"""Compat-exact N-Triples parser.

Reproduces the reference parser's semantics exactly, including its
quirks (reference: /root/reference/common.go:41-66 `ParseNTriple`;
quirk ledger in SURVEY.md §2c). The scalar form is the ground truth;
`parse_nt_frame` is the vectorized pandas form used inside Spark
`mapInPandas` stages (Arrow-batched, no per-row Python in the hot
path).

Semantics (common.go:41-66):
  1. Trim surrounding whitespace; tokenize on any whitespace run
     (internal runs collapse on re-join — common_test.go:207-208).
     Whitespace is Go's unicode.IsSpace set (GO_SPACE), which unlike
     Python's excludes U+001C..U+001F.
  2. <3 tokens → error "broken input: [..]" (common.go:44-46).
  3. s = tok[0], p = tok[1].
  4. 3 or 4 tokens → o = tok[2] only (the 4th token is dropped even
     when it is not "." — quirk Q3).
  5. >4 tokens → o = " ".join(tok[2:]), dropping the LAST token when
     the trimmed line ends with "." (quirk Q4; note a dot glued to
     the final token also triggers the drop because the suffix test
     is on the line).
  6. Strip any mix of < > " from BOTH ENDS of s, p, o
     (common.go:61-63; quirk Q5 — typed/lang-tagged literals are
     mangled, inner quotes survive).
  7. Escape sequences are never unescaped (quirk Q7).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

_TRIM = '<>"'

# Go's unicode.IsSpace set — what the reference's strings.Fields and
# strings.TrimSpace split and trim on. Python's str.split()/strip()
# use the same set plus U+001C..U+001F (the ASCII information
# separators), so only a line holding one of those four needs the
# explicit tokenizer; every other line stays on str.split().
GO_SPACE = (
    "\t\n\v\f\r \x85\xa0\u1680\u2000\u2001\u2002\u2003\u2004\u2005"
    "\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)
_SEPARATORS = "\x1c\x1d\x1e\x1f"
_GO_SPACE_RUN = re.compile("[" + GO_SPACE + "]+")


def _has_separator(text: str) -> bool:
    # four substring scans beat one regex character class ~30×
    return any(c in text for c in _SEPARATORS)


def go_fields(line: str) -> tuple[str, list[str]]:
    """(TrimSpace(line), Fields(line)) with Go's whitespace set."""
    if not _has_separator(line):
        trimmed = line.strip()
        return trimmed, trimmed.split()
    trimmed = line.strip(GO_SPACE)
    return trimmed, [w for w in _GO_SPACE_RUN.split(trimmed) if w]


class NTParseError(ValueError):
    """Parse failure; message matches the reference format."""


def _strip_trim(col: pd.Series) -> pd.Series:
    """Null-safe Trim(x, '<>\"') — a batch where every row failed to
    parse is all-NaN, and the .str accessor rejects non-string
    dtypes."""
    col = pd.Series(col, dtype="object")
    mask = col.notna()
    if mask.any():
        col.loc[mask] = col.loc[mask].str.strip(_TRIM)
    return col


def _token_frame(tok: str) -> tuple[str, str, str]:
    """(pre, core, suf): the leading/trailing runs of trim chars the
    reference's Trim eats (common.go:61-63) plus the surviving core —
    pre + core + suf == tok always. A token made entirely of trim
    chars is, by convention, all-prefix."""
    core = tok.strip(_TRIM)
    pre_len = len(tok) - len(tok.lstrip(_TRIM))
    suf_len = len(tok) - len(tok.rstrip(_TRIM))
    if pre_len + suf_len > len(tok):
        return tok, "", ""
    return tok[:pre_len], core, tok[len(tok) - suf_len :] if suf_len else ""


def parse_ntriple_framed(line: str) -> tuple[str, str, str, dict]:
    """Scalar parser that also captures the FRAMING the parse strips,
    so a sink can reconstruct the reference's byte-level line shape
    from parsed terms (ntto -a writes raw substituted lines —
    /root/reference/cmd/ntto/ntto.go:144-158 — so a parsed-form NT
    sink needs the original brackets/quotes back).

    Returns (s, p, o, frames) with frames = {s_pre, s_suf, p_pre,
    p_suf, o_pre, o_suf, tail}; `tail` is the token the parse DROPS
    verbatim (the 4th token under quirk Q3, the final token of a
    dot-terminated long line under Q4) or None. Reconstruction
    ' '.join(pre+term+suf …, tail) is byte-identical to the input for
    canonically-spaced lines (single-space separators, no surrounding
    whitespace); interior whitespace runs collapse — inherent to the
    parsed form (quirk Q1)."""
    stripped, words = go_fields(line)
    if len(words) < 3:
        raise NTParseError("broken input: [%s]" % " ".join(words))
    tail = None
    if len(words) == 4:
        tail = words[3]
        o_raw = words[2]
    elif len(words) > 4:
        if stripped.endswith("."):
            tail = words[-1]
            o_raw = " ".join(words[2:-1])
        else:
            o_raw = " ".join(words[2:])
    else:
        o_raw = words[2]
    s_pre, s, s_suf = _token_frame(words[0])
    p_pre, p, p_suf = _token_frame(words[1])
    o_pre, o, o_suf = _token_frame(o_raw)
    return s, p, o, {
        "s_pre": s_pre, "s_suf": s_suf,
        "p_pre": p_pre, "p_suf": p_suf,
        "o_pre": o_pre, "o_suf": o_suf,
        "tail": tail,
    }


def parse_ntriple(line: str) -> tuple[str, str, str]:
    """Scalar reference parser. Returns (s, p, o) or raises NTParseError.

    Mirrors /root/reference/common.go:41-66 token-for-token.
    """
    line, words = go_fields(line)
    if len(words) < 3:
        # common.go:45 formats the token slice Go-style: [a b]
        raise NTParseError("broken input: [%s]" % " ".join(words))
    s = words[0]
    p = words[1]
    if len(words) <= 4:
        o = words[2]
    else:
        if line.endswith("."):
            o = " ".join(words[2:-1])
        else:
            o = " ".join(words[2:])
    return s.strip(_TRIM), p.strip(_TRIM), o.strip(_TRIM)


FRAME_COLS = ["s_pre", "s_suf", "p_pre", "p_suf", "o_pre", "o_suf", "tail"]

_FRAME_RE = r'(?s)^([<>"]*)(.*?)([<>"]*)$'


def _frame_of(raw: pd.Series) -> pd.DataFrame:
    """Vectorized _token_frame: (pre, core, suf) via one regex extract
    — greedy end groups over the trim alphabet reproduce Go's
    two-ended Trim, with all-trim tokens resolving to all-prefix
    (same convention as the scalar form)."""
    ex = pd.Series(raw, dtype="object").str.extract(_FRAME_RE)
    ex.columns = ["pre", "core", "suf"]
    return ex


def parse_nt_frame(lines: pd.Series, with_frames: bool = False) -> pd.DataFrame:
    """Vectorized parser over a pandas Series of raw lines.

    Returns a DataFrame with columns (s, p, o, error):
      - good rows: s/p/o filled, error = None
      - broken rows (<3 tokens): s/p/o = None, error = the reference
        message ("broken input: [..]") so callers can quarantine
        instead of crashing (the reference's -i flag,
        cmd/ntto/ntto.go:26-31).

    with_frames=True adds FRAME_COLS — the framing runs the parse
    strips plus the dropped trailing token (see parse_ntriple_framed)
    — so a parsed-form sink can reconstruct the reference's byte
    shape.

    All operations are pandas C-level string/list kernels; no Python
    loop over rows.
    """
    lines = lines.astype("object").fillna("")
    norm = lines.str.strip()
    toks = norm.str.split()
    # one C-level scan of the batch; only the rare lines holding a
    # U+001C..U+001F separator are re-tokenized with Go's set
    if _has_separator("".join(lines.tolist())):
        for i in lines.index[lines.map(_has_separator)]:
            norm.at[i], toks.at[i] = go_fields(lines.at[i])
    n = toks.str.len().fillna(0).astype(int)
    ok = n >= 3

    s = toks.str[0].where(ok)
    p = toks.str[1].where(ok)
    third = toks.str[2].where(ok)

    many = n > 4
    if many.any():
        joined_all = toks[many].str[2:].str.join(" ")
        joined_minus = toks[many].str[2:-1].str.join(" ")
        ends_dot = norm[many].str.endswith(".")
        o_many = joined_minus.where(ends_dot, joined_all)
        o = third.copy()
        o.loc[many] = o_many
    else:
        o = third

    sf = _frame_of(s) if with_frames else None
    pf = _frame_of(p) if with_frames else None
    of = _frame_of(o) if with_frames else None

    out = pd.DataFrame(
        {
            "s": sf["core"].where(s.notna()) if with_frames else _strip_trim(s),
            "p": pf["core"].where(p.notna()) if with_frames else _strip_trim(p),
            "o": of["core"].where(o.notna()) if with_frames else _strip_trim(o),
        }
    )
    err = pd.Series([None] * len(lines), index=lines.index, dtype="object")
    if (~ok).any():
        bad_msg = "broken input: [" + toks[~ok].str.join(" ").fillna("") + "]"
        err.loc[~ok] = bad_msg
    out["error"] = err
    if with_frames:
        for col, fr, raw in (("s", sf, s), ("p", pf, p), ("o", of, o)):
            out[f"{col}_pre"] = fr["pre"].where(raw.notna())
            out[f"{col}_suf"] = fr["suf"].where(raw.notna())
        tail = pd.Series([None] * len(lines), index=lines.index, dtype="object")
        four = n == 4
        if four.any():
            tail.loc[four] = toks[four].str[3]
        if many.any():
            drop5 = many & norm.str.endswith(".")
            if drop5.any():
                tail.loc[drop5] = toks[drop5].str[-1]
        out["tail"] = tail
        out.loc[~ok, FRAME_COLS] = None
    # broken rows keep s/p/o as None
    out.loc[~ok, ["s", "p", "o"]] = None
    return out


_PARSE_CHECKED = False


def self_check() -> None:
    """Cross-check the vectorized parser against the scalar one on the
    pinned fixture cases. Cheap; used by tests and once at import of
    the Spark operators."""
    global _PARSE_CHECKED
    if _PARSE_CHECKED:
        return
    cases = [
        "<a> <b> <c> .",
        "a b c .",
        'a b "the deep blue c" .',
        "<a>    <b>  <the         deep blue c>",
        "a b c d",
        "<a> <b> .",
        '<a> <b> "x"@en .',
        "a b",
        "",
        "<a> <b> <c d e>.",
        "<a>\x1c<b> <c> .",
        "\x1f",
    ]
    frame = parse_nt_frame(pd.Series(cases))
    framed = parse_nt_frame(pd.Series(cases), with_frames=True)
    for i, line in enumerate(cases):
        try:
            s, p, o = parse_ntriple(line)
            assert frame.loc[i, "s"] == s, (line, frame.loc[i, "s"], s)
            assert frame.loc[i, "p"] == p
            assert frame.loc[i, "o"] == o
            assert frame.loc[i, "error"] is None
            # framed form: same terms, scalar-identical frames, and
            # the reconstruction invariant — frames + terms + tail
            # rebuild the whitespace-normalized line exactly
            s2, p2, o2, fr = parse_ntriple_framed(line)
            assert (s2, p2, o2) == (s, p, o)
            assert framed.loc[i, "s"] == s and framed.loc[i, "o"] == o, (
                line, framed.loc[i, "s"], framed.loc[i, "o"])
            for k, v in fr.items():
                got = framed.loc[i, k]
                assert (got == v) or (got is None and v is None) or (
                    v is None and (got is None or (isinstance(got, float)))
                ), (line, k, got, v)
            parts = [
                fr["s_pre"] + s + fr["s_suf"],
                fr["p_pre"] + p + fr["p_suf"],
                fr["o_pre"] + o + fr["o_suf"],
            ]
            if fr["tail"] is not None:
                parts.append(fr["tail"])
            assert " ".join(parts) == " ".join(go_fields(line)[1]), (line, parts)
        except NTParseError as e:
            assert frame.loc[i, "error"] == str(e), (line, frame.loc[i, "error"], str(e))
            assert framed.loc[i, "error"] == str(e)
    _PARSE_CHECKED = True
