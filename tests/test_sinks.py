"""LDJ / NT sinks: multiset equivalence with the reference's output
contract (order-insensitive, value-level JSON comparison — Q10/Q11)."""

import json
import glob

from pyspark.sql import functions as F

from kgpipe.operators.sinks import write_ldj, write_nt


def _read_lines(path):
    out = []
    for f in glob.glob(f"{path}/part-*"):
        with open(f) as fh:
            out.extend(l for l in fh.read().splitlines() if l)
    return out


def test_write_ldj_roundtrip(spark, tmp_path):
    triples = spark.createDataFrame(
        [("gnd:1", "rdf:type", "dnb:X"), ("a", "b", 'literal with "quotes" & <brackets>')],
        ["s", "p", "o"],
    )
    out = str(tmp_path / "ldj")
    write_ldj(triples, out)
    got = sorted(
        (d["s"], d["p"], d["o"]) for d in map(json.loads, _read_lines(out))
    )
    assert got == [
        ("a", "b", 'literal with "quotes" & <brackets>'),
        ("gnd:1", "rdf:type", "dnb:X"),
    ]


def test_write_nt_shape(spark, tmp_path):
    triples = spark.createDataFrame(
        [("http://ex.org/s", "gnd:p", "obj")], ["s", "p", "o"]
    )
    out = str(tmp_path / "nt")
    write_nt(triples, out)
    assert _read_lines(out) == ["<http://ex.org/s> gnd:p obj ."]


def test_nt_roundtrips_through_parser(spark, tmp_path):
    """NT written by the sink parses back to the same triples via the
    compat parser (for bare single-token terms)."""
    from kgpipe.operators.parse import parse_text_column

    triples = spark.createDataFrame(
        [("http://ex.org/a", "http://ex.org/p", "http://ex.org/b"), ("s1", "p1", "o1")],
        ["s", "p", "o"],
    )
    out = str(tmp_path / "nt2")
    write_nt(triples, out)
    back = parse_text_column(
        spark.read.text(out).withColumnRenamed("value", "line"), "line", []
    )
    got = {(r.s, r.p, r.o) for r in back.where(F.col("s").isNotNull()).collect()}
    assert got == {(r.s, r.p, r.o) for r in triples.collect()}


# --- parsed-form byte-compat NT sink --------------------------------
import collections

from test_convert import FRAMING_LINES, RULES, perl_lines


def _parseable(lines):
    return [l for l in lines if len(l.split()) >= 3]


def test_write_nt_framed_reconstructs_bytes(spark, tmp_path):
    """parse(with_frames) → write_nt with NO term rewriting must
    reproduce the input lines byte-for-byte (multiset, Q10) for
    canonically-spaced input — brackets, literal quotes, typed/lang
    framing, glued dots, dropped 4th tokens all round-trip."""
    from kgpipe.operators.parse import parse_text_column

    lines = _parseable(FRAMING_LINES) + [
        "<http://ex.org/a> <http://ex.org/p> <http://ex.org/c>.",
        "a b c d",
        "<a> <b> .",
    ]
    df = spark.createDataFrame([(l,) for l in lines], "line string").repartition(3)
    parsed = parse_text_column(df, "line", [], with_frames=True).where(F.col("error").isNull())
    out = str(tmp_path / "roundtrip_nt")
    write_nt(parsed, out)
    got = collections.Counter(_read_lines(out))
    assert got == collections.Counter(lines)


def test_write_nt_framed_byte_identical_to_perl_defaultrules(spark, tmp_path):
    """The PARSED path now byte-matches `ntto -a`: parse with frames →
    compat-abbreviate the TERMS → write_nt re-wraps the original
    framing — multiset byte-identity with the live perl pipeline on
    the shipped 223-rule DefaultRules (ref cmd/ntto/ntto.go:144-158).
    This is the framing-parity gap write_nt carried since round 1."""
    from kgpipe.operators.abbrev import abbreviate_columns
    from kgpipe.operators.parse import parse_text_column

    lines = _parseable(FRAMING_LINES)
    df = spark.createDataFrame([(l,) for l in lines], "line string").repartition(3)
    parsed = parse_text_column(df, "line", [], with_frames=True).where(F.col("error").isNull())
    abbr = abbreviate_columns(parsed, ["s", "p", "o"], RULES, mode="compat")
    out = str(tmp_path / "framed_nt")
    write_nt(abbr, out)
    got = collections.Counter(_read_lines(out))
    assert got == perl_lines(lines, RULES)


def test_write_nt_framed_byte_identical_to_perl_rules16(spark, tmp_path):
    """Same parity on the reference's 16-rule RULES fixture (no
    overlapping prefixes ⇒ compat ≡ lpm there)."""
    from kgpipe.fixtures import RULES_16_TEXT
    from kgpipe.nt.rules import parse_rules
    from kgpipe.operators.abbrev import abbreviate_columns
    from kgpipe.operators.parse import parse_text_column

    rules16 = parse_rules(RULES_16_TEXT)
    lines = _parseable(FRAMING_LINES)
    df = spark.createDataFrame([(l,) for l in lines], "line string").repartition(2)
    parsed = parse_text_column(df, "line", [], with_frames=True).where(F.col("error").isNull())
    abbr = abbreviate_columns(parsed, ["s", "p", "o"], rules16, mode="compat")
    out = str(tmp_path / "framed_nt16")
    write_nt(abbr, out)
    got = collections.Counter(_read_lines(out))
    assert got == perl_lines(lines, rules16)


def test_write_nt_framed_excludes_broken_rows(spark, tmp_path):
    """Quarantined rows (null terms) must not leak blank lines into
    the framed byte stream when the caller forgets the error filter."""
    from kgpipe.operators.parse import parse_text_column

    lines = ["<a> <b> <c> .", "broken", ""]
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    parsed = parse_text_column(df, "line", [], with_frames=True)  # NO error filter
    out = str(tmp_path / "noblank_nt")
    write_nt(parsed, out)
    got = []
    for f in glob.glob(f"{out}/part-*"):
        with open(f) as fh:
            got.extend(fh.read().splitlines())
    assert got == ["<a> <b> <c> ."]
