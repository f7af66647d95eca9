"""The reference's primary job end-to-end: NT file → abbreviate →
parse → LDJ/NT, checked as a multiset against the LIVE perl pipeline
(the reference's actual execution path) running the shipped 223-rule
DefaultRules table (SURVEY.md §2c Q13 overlaps only materialize on
the real table)."""

import collections
import json
import os
import subprocess

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgpipe.convert import convert_nt_lines
from kgpipe.nt.default_rules import DEFAULT_RULES_TEXT
from kgpipe.nt.parser import NTParseError, parse_ntriple
from kgpipe.nt.rules import PrefixRewriter, parse_rules, sedify

RULES = parse_rules(DEFAULT_RULES_TEXT)

# lines that hit the Q13 overlap semantics on the real table:
# dbp vs category (category IS a dbp-prefixed URI), xhtml vs xhv,
# duplicate shortcuts (atom twice, virtrdf twice), plus plain rows
NT_LINES = [
    "<http://dbpedia.org/resource/Berlin> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://dbpedia.org/ontology/City> .",
    "<http://dbpedia.org/resource/Category:Cities> <http://www.w3.org/2004/02/skos/core#broader> <http://dbpedia.org/resource/Category:Places> .",
    "<http://www.w3.org/1999/xhtml/vocab#next> <http://purl.org/dc/elements/1.1/title> \"next page\" .",
    "<http://www.w3.org/1999/xhtml/section> <http://purl.org/dc/terms/isPartOf> <http://www.w3.org/1999/xhtml/body> .",
    "<http://atomowl.org/ontologies/atomrdf#Feed> <http://www.w3.org/2000/01/rdf-schema#label> \"feed\" .",
    "<http://www.w3.org/2005/Atom> <http://www.w3.org/2002/07/owl#sameAs> <http://atomowl.org/ontologies/atomrdf#Atom> .",
    "<http://www.openlinksw.com/virtrdf-data-formats#fmt> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://www.openlinksw.com/schemas/virtrdf#Format> .",
    "<http://d-nb.info/gnd/118540238> <http://d-nb.info/standards/elementset/gnd#preferredName> \"Goethe\" .",
    "<http://viaf.org/viaf/24602065> <http://schema.org/name> \"J. W. Goethe\" .",
    "<http://example.org/unmapped/x> <http://example.org/unmapped/p> \"plain literal with http://dbpedia.org/resource/Embedded inside\" .",
]


def perl_triples(lines, rules, parts=1):
    """Ground truth: the reference's own perl pipeline → parse."""
    cmd = sedify(rules, parts, "")
    res = subprocess.run(cmd, shell=True, input="\n".join(lines),
                         capture_output=True, text=True)
    assert res.returncode == 0, res.stderr
    out = collections.Counter()
    for line in res.stdout.splitlines():
        if not line.strip():
            continue
        try:
            s, p, o = parse_ntriple(line)
        except NTParseError:
            continue
        out[(s, p, o)] += 1
    return out


@pytest.fixture(scope="module")
def lines_df(spark):
    return spark.createDataFrame([(l,) for l in NT_LINES], "value string").repartition(4)


def test_convert_compat_matches_live_perl_defaultrules(spark, lines_df):
    got = collections.Counter(
        (r.s, r.p, r.o)
        for r in convert_nt_lines(lines_df, RULES, mode="compat")
        .where(F.col("error").isNull()).collect()
    )
    exp = perl_triples(NT_LINES, RULES)
    assert got == exp


def test_q13_overlaps_pinned_on_default_rules(spark):
    """The divergence matrix on the real table, both modes:
    compat = first-rule-in-order wins (sequential substitution),
    lpm = longest prefix wins."""
    compat = PrefixRewriter(RULES, mode="compat")
    lpm = PrefixRewriter(RULES, mode="lpm")
    cat = "http://dbpedia.org/resource/Category:Cities"
    # dbp precedes category in the table → compat rewrites dbp first
    assert compat.rewrite_term(cat) == "dbp:Category:Cities"
    # category's prefix is longer → lpm picks it
    assert lpm.rewrite_term(cat) == "category:Cities"
    xhv = "http://www.w3.org/1999/xhtml/vocab#next"
    # xhtml precedes xhv in the table → compat truncates at xhtml/
    assert compat.rewrite_term(xhv) == "xhtml:vocab#next"
    assert lpm.rewrite_term(xhv) == "xhv:next"
    # duplicate shortcut: both atom rules fire on their own prefixes
    assert compat.rewrite_term("http://atomowl.org/ontologies/atomrdf#Feed") == "atom:Feed"
    assert compat.rewrite_term("http://www.w3.org/2005/Atom") == "atom:"
    assert lpm.rewrite_term("http://www.w3.org/2005/Atom") == "atom:"
    # and each matches the live perl pipeline verbatim
    cmd = sedify(RULES, 1, "")
    probe = [cat, xhv, "http://atomowl.org/ontologies/atomrdf#Feed", "http://www.w3.org/2005/Atom"]
    res = subprocess.run(cmd, shell=True, input="\n".join(probe),
                         capture_output=True, text=True)
    assert res.stdout.rstrip("\n").split("\n") == [compat.rewrite_term(t) for t in probe]


def test_convert_lpm_rewrites_terms_only(spark, lines_df):
    """lpm mode parses first: the prefix inside a literal survives."""
    rows = {
        (r.s, r.p): r.o
        for r in convert_nt_lines(lines_df, RULES, mode="lpm")
        .where(F.col("error").isNull()).collect()
    }
    lit = rows[("http://example.org/unmapped/x", "http://example.org/unmapped/p")]
    assert "http://dbpedia.org/resource/Embedded" in lit
    # lpm: the longer category prefix wins over dbp (unlike compat)
    assert rows[("category:Cities", "skos:broader")] == "category:Places"


def test_convert_null_sentinel_strips(spark):
    """ntto -n: a rule whose shortcut equals the sentinel strips its
    prefix instead of abbreviating (common.go:111-114)."""
    rules = parse_rules("STRIP http://example.org/\ndc http://purl.org/dc/elements/1.1/")
    df = spark.createDataFrame(
        [("<http://example.org/a> <http://purl.org/dc/elements/1.1/title> \"t\" .",)],
        "value string",
    )
    r = convert_nt_lines(df, rules, mode="compat", null="STRIP").collect()[0]
    assert (r.s, r.p, r.o) == ("a", "dc:title", "t")


def test_convert_cli_end_to_end(spark, tmp_path):
    """Full CLI path: NT file in, LDJ out, multiset equals perl."""
    from kgpipe.cli import main

    src = tmp_path / "in.nt"
    src.write_text("\n".join(NT_LINES) + "\n")
    out = tmp_path / "out"
    rc = main(["convert", str(src), "--out", str(out), "--format", "ldj"])
    assert rc == 0
    got = collections.Counter()
    for name in os.listdir(out):
        if name.startswith("part-"):
            with open(out / name) as f:
                for line in f:
                    d = json.loads(line)
                    got[(d["s"], d["p"], d["o"])] += 1
    assert got == perl_triples(NT_LINES, RULES)


def test_convert_empty_input_zero_rows(spark):
    df = spark.createDataFrame([("",), ("   ",)], "value string")
    assert convert_nt_lines(df, RULES).count() == 0


_FRAME_LINE = "<http://ex.org/a> <http://ex.org/p> <http://ex.org/b> ."


@pytest.mark.parametrize(
    "line, decision",
    [
        ("http://stripme.example.org/", "quarantine"),  # blank only after the <NULL> strip
        (" \t\u3000 ", "drop"),
        ("\x1c", "quarantine"),
        ("<http://dbpedia.org/resource/X> <http://xmlns.com/foaf/0.1/name> \"x\" .", "clean"),
    ],
    ids=["null_emptied", "whitespace", "separator", "triple"],
)
def test_convert_and_extract_decide_each_line_alike(spark, line, decision):
    """convert (one line per row) and the pipeline's extract stage (one
    page text per row) drop, quarantine or parse each line alike in
    compat mode: the blank-line rule looks at the input line, before
    the rewrite, and a line the rewrite empties is quarantined."""
    from html import escape

    from kgpipe.checkpoints import with_part_id
    from kgpipe.fixtures import RULES_OVERLAP_TEXT
    from kgpipe.operators.fused import fused_extract_parse_abbrev

    rules = parse_rules(RULES_OVERLAP_TEXT)
    # framed by two triples, so the extractor's strip of the text node
    # cannot touch the line under test
    lines = [_FRAME_LINE, line, _FRAME_LINE]
    conv = convert_nt_lines(
        spark.createDataFrame([(l,) for l in lines], "value string"), rules, mode="compat"
    )
    html = f"<html><body><pre>{escape(chr(10).join(lines))}</pre></body></html>"
    pages = with_part_id(
        spark.createDataFrame([("http://ex.org/page", html.encode())], "url string, html binary"),
        "url", 1,
    )
    ext = fused_extract_parse_abbrev(pages, rules, mode="compat")

    def decisions(df):
        return collections.Counter(
            ("quarantine", r.error) if r.error is not None else ("clean", (r.s, r.p, r.o))
            for r in df.collect()
        )

    framing = collections.Counter(
        {("clean", ("http://ex.org/a", "http://ex.org/p", "http://ex.org/b")): 2}
    )
    got = decisions(conv)
    assert got == decisions(ext)
    assert [kind for kind, _ in (got - framing)] == {
        "drop": [], "quarantine": ["quarantine"], "clean": ["clean"]
    }[decision]


def test_convert_cli_single_file(spark, tmp_path):
    from kgpipe.cli import main

    src = tmp_path / "in.nt"
    src.write_text("\n".join(NT_LINES) + "\n")
    out = tmp_path / "single"
    rc = main(["convert", str(src), "--out", str(out), "--single-file"])
    assert rc == 0
    parts = [n for n in os.listdir(out) if n.startswith("part-")]
    assert len(parts) == 1


def perl_lines(lines, rules, parts=1):
    """Raw perl pipeline output lines — the exact bytes `ntto -a`
    writes to its output file (ntto.go:144-166)."""
    cmd = sedify(rules, parts, "")
    res = subprocess.run(cmd, shell=True, input="\n".join(lines),
                         capture_output=True, text=True)
    assert res.returncode == 0, res.stderr
    return collections.Counter(res.stdout.split("\n")[:-1])


# lines exercising framing the parsed NT sink cannot preserve: typed
# and lang-tagged literals, >4 tokens, a broken line, a blank line
FRAMING_LINES = NT_LINES + [
    '<http://d-nb.info/gnd/1> <http://schema.org/x> "42"^^<http://www.w3.org/2001/XMLSchema#int> .',
    '<http://dbpedia.org/resource/X> <http://schema.org/name> "Name"@de .',
    "<http://viaf.org/viaf/1> <http://schema.org/k> <http://d-nb.info/gnd/2> <extra> .",
    "",  # blank line mid-stream (a trailing one would not be a perl line)
    "broken line",
]


@pytest.mark.parametrize(
    "rules",
    [
        RULES,
        parse_rules("dbp http://dbpedia.org/resource/\ngnd http://d-nb.info/gnd/"),
    ],
    ids=["default_rules", "two_rules"],
)
def test_abbreviate_lines_byte_identical_to_perl(spark, rules):
    """The `ntto -a` surface: abbreviate_lines output is BYTE-identical
    (as a line multiset, Q10) to the live perl pipeline, on the shipped
    223-rule DefaultRules and on a two-rule table — angle brackets,
    literal quotes, datatype framing, broken lines and blanks all
    survive verbatim."""
    from kgpipe.operators.abbrev import abbreviate_lines

    df = spark.createDataFrame([(l,) for l in FRAMING_LINES], "value string").repartition(3)
    got = collections.Counter(
        r.value for r in abbreviate_lines(df, rules).collect()
    )
    assert got == perl_lines(FRAMING_LINES, rules)
    # and the multi-stage perl pipeline (reference default -w 4)
    # produces the same bytes — partition order is Q12-irrelevant
    assert got == perl_lines(FRAMING_LINES, rules, parts=4)


def test_convert_cli_nt_compat_byte_identical_to_perl(spark, tmp_path):
    """CLI: convert --format nt --mode compat writes the ntto -a byte
    stream (in-place substitution, nothing parsed or dropped)."""
    from kgpipe.cli import main

    src = tmp_path / "in.nt"
    src.write_text("\n".join(FRAMING_LINES) + "\n")
    out = tmp_path / "nt_compat"
    rc = main(["convert", str(src), "--out", str(out), "--format", "nt"])
    assert rc == 0
    got = collections.Counter()
    for name in os.listdir(out):
        if name.startswith("part-"):
            with open(out / name) as f:
                got.update(line.rstrip("\n") for line in f)
    assert got == perl_lines(FRAMING_LINES, RULES)


def test_q8_fragmentation_parity_and_divergence(spark):
    """Quirk Q8 (ntto.go:188-197): the reference's 4096-byte
    bufio.ReadLine splits an over-long line into buffer-sized
    fragments, each fed to the parser as a full line. With
    fragment_bytes=4096 kgpipe reproduces that exactly; without it,
    the whole line parses as ONE triple (documented divergence,
    SURVEY.md §2c)."""
    # an ~9KB line whose object is ONE giant token: the head fragment
    # still parses (mangled triple), the middle/tail fragments have
    # <3 tokens and quarantine — both faces of the quirk
    long_obj = "a" * 9000
    line = f'<http://d-nb.info/gnd/1> <http://schema.org/desc> "{long_obj}" .'
    assert len(line) > 2 * 4096
    rw = PrefixRewriter(RULES, mode="compat")
    abbreviated = rw.rewrite_term(line)

    # expected under the reference: chunk the abbreviated line at 4096,
    # parse each fragment independently (broken fragments quarantine)
    expected = collections.Counter()
    n_err = 0
    for i in range(0, len(abbreviated), 4096):
        frag = abbreviated[i : i + 4096]
        try:
            expected[parse_ntriple(frag)] += 1
        except NTParseError:
            n_err += 1
    assert len(expected) >= 1 and n_err >= 1  # the quirk actually bites

    df = spark.createDataFrame([(line,)], "value string")
    frag_rows = convert_nt_lines(df, RULES, mode="compat", fragment_bytes=4096).collect()
    got = collections.Counter(
        (r.s, r.p, r.o) for r in frag_rows if r.error is None
    )
    got_err = sum(1 for r in frag_rows if r.error is not None)
    assert got == expected
    assert got_err == n_err

    # divergence mode (default): one clean triple, object intact
    whole = convert_nt_lines(df, RULES, mode="compat").collect()
    assert len(whole) == 1 and whole[0].error is None
    assert whole[0].o == long_obj


def test_q15_perl_regex_vs_literal_divergence_pinned():
    """Quirk Q15: the reference's perl path substitutes with UNescaped
    regex metacharacters — '.' in a rule prefix matches any byte — so
    `http://dbpediaXorg/resource/Thing` rewrites under perl but NOT
    under the literal `replace`-binary semantics our compat mode
    implements (the path ntto itself prefers when the binary exists,
    ntto.go:54-58). Pin both sides."""
    wildcard_line = "http://dbpediaXorg/resource/Thing"
    # live perl: the dot-wildcard fires
    cmd = sedify(RULES, 1, "")
    res = subprocess.run(cmd, shell=True, input=wildcard_line,
                         capture_output=True, text=True)
    assert res.stdout.rstrip("\n") == "dbp:Thing"
    # kgpipe compat (literal, replace-binary semantics): untouched
    rw = PrefixRewriter(RULES, mode="compat")
    assert rw.rewrite_term(wildcard_line) == wildcard_line
    got = rw.rewrite_series(pd.Series([wildcard_line])).tolist()
    assert got == [wildcard_line]


def test_convert_cli_dump_command_matches_sedify(capsys):
    """ntto -c parity: --dump-command prints the exact perl pipeline
    the reference would construct for the same rules/-w/-n, without
    executing anything."""
    from kgpipe.cli import main

    rc = main(["convert", "input.nt", "--out", "/dev/null",
               "--dump-command", "--workers", "3"])
    assert rc == 0
    out = capsys.readouterr().out.rstrip("\n")
    assert out == sedify(RULES, 3, "input.nt")

    rc = main(["convert", "input.nt", "--out", "/dev/null", "--dump-command",
               "--workers", "2", "--null", "dbp"])
    assert rc == 0
    out2 = capsys.readouterr().out.rstrip("\n")
    from kgpipe.nt.rules import sedify as sed
    assert out2 == sed(RULES, 2, "input.nt", null="dbp")
    assert "s@http://dbpedia.org/resource/@@g" in out2  # null strips
