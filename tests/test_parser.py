"""Parser parity with the reference (common_test.go:185-218) plus the
quirk ledger (SURVEY.md §2c), scalar and vectorized cross-checked."""

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from kgpipe.nt.parser import NTParseError, parse_nt_frame, parse_ntriple, self_check

# The 9 pinned cases from /root/reference/common_test.go:185-209.
REFERENCE_CASES = [
    (
        "<http://d-nb.info/gnd/1-2> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "
        "<http://d-nb.info/standards/elementset/gnd#SeriesOfConferenceOrEvent> .",
        (
            "http://d-nb.info/gnd/1-2",
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "http://d-nb.info/standards/elementset/gnd#SeriesOfConferenceOrEvent",
        ),
    ),
    ("a b c .", ("a", "b", "c")),
    ('a b "the deep blue c" .', ("a", "b", "the deep blue c")),
    ('a <b> "the deep blue c" .', ("a", "b", "the deep blue c")),
    ('<a> <b> "the deep blue c" .', ("a", "b", "the deep blue c")),
    ("<a> <b> <the deep blue c> .", ("a", "b", "the deep blue c")),
    ("<a> <b> <the deep blue c>", ("a", "b", "the deep blue c")),
    ("<a> <b> <the deep blue c>", ("a", "b", "the deep blue c")),
    ("<a>    <b>  <the         deep blue c>", ("a", "b", "the deep blue c")),
]

# Quirk rows from SURVEY.md §2c.
QUIRK_CASES = [
    ("a b c d", ("a", "b", "c")),  # Q3: 4th token dropped even when not '.'
    ("<a> <b> .", ("a", "b", ".")),  # Q6: object is literally '.'
    ('<a> <b> "x"@en .', ("a", "b", 'x"@en')),  # Q5: lang tag mangled
    (
        '<a> <b> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .',
        ("a", "b", '5"^^<http://www.w3.org/2001/XMLSchema#integer'),
    ),  # Q5: typed literal mangled, inner quote kept, trailing > eaten
    ("<a> <b> <c d e>.", ("a", "b", "c d")),  # >4 tokens, glued dot drops last token
    ("<a> <b> <c d> e", ("a", "b", "c d> e")),  # >4 tokens, no trailing dot keeps all
    ("  <a>\t<b>\t<c> .  ", ("a", "b", "c")),  # surrounding ws trimmed, tabs split
]

ERROR_CASES = ["a b", "", "   ", "# comment", "onlyone"]


@pytest.mark.parametrize("line,expected", REFERENCE_CASES + QUIRK_CASES)
def test_scalar_parse(line, expected):
    assert parse_ntriple(line) == expected


@pytest.mark.parametrize("line", ERROR_CASES)
def test_scalar_parse_errors(line):
    with pytest.raises(NTParseError) as ei:
        parse_ntriple(line)
    assert str(ei.value).startswith("broken input: [")


def test_vectorized_matches_scalar_on_fixtures():
    lines = [c[0] for c in REFERENCE_CASES + QUIRK_CASES] + ERROR_CASES
    frame = parse_nt_frame(pd.Series(lines))
    for i, line in enumerate(lines):
        try:
            s, p, o = parse_ntriple(line)
            assert (frame.loc[i, "s"], frame.loc[i, "p"], frame.loc[i, "o"]) == (s, p, o)
            assert frame.loc[i, "error"] is None
        except NTParseError as e:
            assert frame.loc[i, "s"] is None
            assert frame.loc[i, "error"] == str(e)


def test_self_check():
    self_check()


_token = st.text(
    alphabet=st.characters(blacklist_categories=("Zs", "Zl", "Zp", "Cc", "Cs")),
    min_size=1,
    max_size=12,
)


@given(st.lists(_token, min_size=0, max_size=8), st.sampled_from([" ", "  ", "\t", " \t "]))
@settings(max_examples=300, deadline=None)
def test_vectorized_matches_scalar_property(tokens, sep):
    line = sep.join(tokens)
    frame = parse_nt_frame(pd.Series([line]))
    try:
        s, p, o = parse_ntriple(line)
        assert (frame.loc[0, "s"], frame.loc[0, "p"], frame.loc[0, "o"]) == (s, p, o)
    except NTParseError as e:
        assert frame.loc[0, "error"] == str(e)


@given(st.lists(_token, min_size=3, max_size=3))
@settings(max_examples=200, deadline=None)
def test_wellformed_roundtrip(tokens):
    """Parse of a well-formed generated NT line yields the generating
    (s,p,o) — SURVEY.md §5.2-3(b). Tokens restricted to not contain
    the trim charset or '.' edge interactions."""
    s, p, o = tokens
    if any(ch in t for t in tokens for ch in '<>"'):
        return
    if o == "." or o.endswith("."):
        return
    line = f"<{s}> <{p}> <{o}> ."
    assert parse_ntriple(line) == (s, p, o)


# -- whitespace: Go's unicode.IsSpace, not Python's str.isspace ---------
# An oracle written from Go's definitions, independent of kgpipe:
# unicode.IsSpace is '\t' '\n' '\v' '\f' '\r' ' ' U+0085 U+00A0 plus
# the White_Space property above Latin-1; strings.Fields splits on runs
# of it and strings.TrimSpace trims it. Python's str.isspace() also
# counts U+001C..U+001F, which Go does not.
GO_WHITE_SPACE = frozenset(
    [0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x20, 0x85, 0xA0, 0x1680]
    + list(range(0x2000, 0x200B))
    + [0x2028, 0x2029, 0x202F, 0x205F, 0x3000]
)


def _go_space(ch):
    return ord(ch) in GO_WHITE_SPACE


def _go_fields(s):
    out, cur = [], ""
    for ch in s:
        if _go_space(ch):
            if cur:
                out.append(cur)
            cur = ""
        else:
            cur += ch
    return out + [cur] if cur else out


def _go_trim_space(s):
    i, j = 0, len(s)
    while i < j and _go_space(s[i]):
        i += 1
    while j > i and _go_space(s[j - 1]):
        j -= 1
    return s[i:j]


def _oracle(line):
    """ParseNTriple (common.go:41-66) over the Go helpers above:
    (s, p, o), or the error message."""
    line = _go_trim_space(line)
    words = _go_fields(line)
    if len(words) < 3:
        return "broken input: [%s]" % " ".join(words)
    if len(words) <= 4:
        o = words[2]
    elif line.endswith("."):
        o = " ".join(words[2:-1])
    else:
        o = " ".join(words[2:])
    return words[0].strip('<>"'), words[1].strip('<>"'), o.strip('<>"')


def test_go_whitespace_oracle_matches_python_except_separators():
    """The oracle's set is Python's whitespace minus U+001C..U+001F —
    the only gap the parser's fast path has to route around."""
    py = {c for c in range(0x110000) if chr(c).isspace()}
    assert py - GO_WHITE_SPACE == {0x1C, 0x1D, 0x1E, 0x1F}
    assert GO_WHITE_SPACE <= py


SEPARATOR_CASES = [
    ("<a>\x1c<b> <c> .", ("a>\x1c<b", "c", ".")),
    ("<a> <b> <c>\x1d.", ("a", "b", "c>\x1d.")),
    ("\x1e<a> <b> <c> .\x1f", ("\x1e<a", "b", "c")),
    ("<a> <b> \"x\x1fy z\" .", ("a", "b", "x\x1fy z")),
    ("\x1c", "broken input: [\x1c]"),
    ("  \x1f\t", "broken input: [\x1f]"),
    ("<a>\x1c<b>\x1d<c>", "broken input: [<a>\x1c<b>\x1d<c>]"),
    ("<a> <b>\xa0<c>\x85.", ("a", "b", "c")),
]


def _frame_result(frame, i):
    if frame.loc[i, "error"] is not None:
        return frame.loc[i, "error"]
    return frame.loc[i, "s"], frame.loc[i, "p"], frame.loc[i, "o"]


def _scalar_result(fn, line):
    try:
        return tuple(fn(line)[:3])
    except NTParseError as e:
        return str(e)


@pytest.mark.parametrize("line,expected", SEPARATOR_CASES)
def test_separator_whitespace_matches_go(line, expected):
    from kgpipe.nt.parser import parse_ntriple_framed

    assert _oracle(line) == expected
    assert _scalar_result(parse_ntriple, line) == expected
    assert _scalar_result(parse_ntriple_framed, line) == expected
    # mixed into a batch of ordinary lines, so both the fast path and
    # the separator path run on the same frame
    batch = pd.Series(["a b c .", line, "<x> <y> <z> ."])
    for frame in (parse_nt_frame(batch), parse_nt_frame(batch, with_frames=True)):
        assert _frame_result(frame, 1) == expected
        assert _frame_result(frame, 0) == ("a", "b", "c")


_ws_token = st.text(
    alphabet=st.sampled_from(list("ab<>\".") + ["\x1c", "\x1d", "\x1e", "\x1f", "\xa0"]),
    min_size=1,
    max_size=6,
)


@given(st.lists(_ws_token, min_size=0, max_size=7),
       st.sampled_from([" ", "\t", "\x1c", " \x1f ", "　"]))
@settings(max_examples=300, deadline=None)
def test_parsers_match_go_oracle_property(tokens, sep):
    from kgpipe.nt.parser import parse_ntriple_framed

    line = sep.join(tokens)
    want = _oracle(line)
    assert _scalar_result(parse_ntriple, line) == want
    assert _scalar_result(parse_ntriple_framed, line) == want
    assert _frame_result(parse_nt_frame(pd.Series([line])), 0) == want


def test_separator_only_line_is_quarantined_not_dropped(spark):
    """A line made only of U+001C is not blank to the reference (Go's
    TrimSpace keeps it), so convert reports it as a broken-input row;
    a line of Go whitespace is still skipped."""
    from kgpipe.convert import convert_nt_lines

    lines = spark.createDataFrame(
        [("<a> <b> <c> .",), ("\x1c",), (" \t　",)], "value string"
    )
    rows = convert_nt_lines(lines, None, abbreviate=False).collect()
    assert sorted((r.s or "", r.error or "") for r in rows) == [
        ("", "broken input: [\x1c]"), ("a", ""),
    ]
