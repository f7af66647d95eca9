"""Seeded input generator for the kgpipe benchmark.

Every input is a pure function of (seed, size): the same arguments give
byte-identical files on any machine and at any commit, so two runs of
the benchmark feed the program exactly the same bytes.

Pages are shaped like ``kgpipe.fixtures`` (1-20 N-Triples lines per
page, ~40% rdf:type and ~10% owl:sameAs predicates, a closed pool of
30k subjects, ~1% malformed lines, a title and a prose line that the
pipeline quarantines or parses as-is). N-Triples lines for the convert
workload draw their IRIs from the 223 built-in prefix rules, so the
rewriter has real work on every line.
"""

from __future__ import annotations

import random
from html import escape as html_escape

import pyarrow as pa
import pyarrow.parquet as pq

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
PRED_POOL = [
    "http://xmlns.com/foaf/0.1/name",
    "http://purl.org/dc/terms/subject",
    "http://www.w3.org/2000/01/rdf-schema#label",
    "http://schema.org/about",
    "http://purl.org/dc/elements/1.1/title",
]
WORDS = [
    "deep", "blue", "sea", "conference", "series", "berlin", "graph",
    "entity", "page", "knowledge", "web", "data", "archive", "crawl",
]
PROSE = [
    "A page about {w} and {v} from the crawl.",
    "Notes on {w}, {v} and other topics.",
    "{w} {v} archive record.",
]
SUBJECTS_PER_NAMESPACE = 10_000  # three namespaces: a closed pool of 30k
MALFORMED = "<onlytwo> <tokens>"


def _rng(seed: int, stream: int, i: int) -> random.Random:
    """An independent stream per (seed, stream, index)."""
    return random.Random((seed * 1_000_003 + stream) * 1_000_000_007 + i)


def _subject(rng: random.Random) -> str:
    k = rng.randrange(SUBJECTS_PER_NAMESPACE)
    pool = rng.randrange(3)
    if pool == 0:
        return f"http://d-nb.info/gnd/{k}"
    if pool == 1:
        return f"http://dbpedia.org/resource/Entity{k}"
    return f"http://viaf.org/viaf/{k}"


def _predicate(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.40:
        return RDF_TYPE
    if r < 0.50:
        return OWL_SAMEAS
    return PRED_POOL[rng.randrange(len(PRED_POOL))]


def page_nt_lines(seed: int, i: int) -> list[str]:
    """The 1 + i % 20 N-Triples lines embedded in page i (a count that
    does not depend on the seed, so every seed gives a corpus of the
    same size)."""
    rng = _rng(seed, 1, i)
    lines = []
    for _ in range(1 + i % 20):
        if rng.random() < 0.01:
            lines.append(MALFORMED)
            continue
        s, p = _subject(rng), _predicate(rng)
        if p in (RDF_TYPE, OWL_SAMEAS) or rng.random() < 0.5:
            o = f"<{_subject(rng)}>"
        else:
            o = '"' + " ".join(rng.choice(WORDS) for _ in range(1 + rng.randrange(4))) + '"'
        lines.append(f"<{s}> <{p}> {o} .")
    return lines


def page_title(i: int) -> str:
    return f"Page {i}"


def page_prose(seed: int, i: int) -> str:
    rng = _rng(seed, 2, i)
    return PROSE[i % len(PROSE)].format(w=rng.choice(WORDS), v=rng.choice(WORDS))


def page_url(seed: int, i: int) -> str:
    return f"https://site{i % 97}.example.org/s{seed}/page/{i}"


def page_html(seed: int, i: int) -> bytes:
    # NT payload entity-escaped as a real page carries it; the
    # extractor's charref conversion restores the raw lines
    return (
        f"<html><head><title>{page_title(i)}</title></head>"
        f"<body><p>{page_prose(seed, i)}</p>"
        f'<pre class="nt">{html_escape(chr(10).join(page_nt_lines(seed, i)))}</pre>'
        "</body></html>"
    ).encode("utf-8")


def page_text_lines(seed: int, i: int) -> list[str]:
    """The non-blank text lines the extract stage yields for page i:
    the ground-truth input of the reference's perl pipeline."""
    return [page_title(i), page_prose(seed, i), *page_nt_lines(seed, i)]


def write_pages(path: str, seed: int, start: int, stop: int) -> None:
    """Pages [start, stop) as one parquet file of (url, html)."""
    idx = range(start, stop)
    table = pa.table({
        "url": pa.array([page_url(seed, i) for i in idx], pa.string()),
        "html": pa.array([page_html(seed, i) for i in idx], pa.binary()),
    })
    pq.write_table(table, path)


def _rule_term(rng: random.Random, prefixes: list[str]) -> str:
    return prefixes[rng.randrange(len(prefixes))] + rng.choice(WORDS).capitalize() + str(
        rng.randrange(100_000)
    )


NT_CHUNK = 1000  # lines drawn from one random stream


def _nt_line(rng: random.Random, prefixes: list[str]) -> str:
    """One N-Triples line for the convert workload: IRIs under the
    rule prefixes, ~40% multi-word literals (some quoting an IRI, which
    compat mode rewrites too), ~1% malformed."""
    if rng.random() < 0.01:
        return MALFORMED
    s, p = _rule_term(rng, prefixes), _rule_term(rng, prefixes)
    r = rng.random()
    if r < 0.6:
        o = f"<{_rule_term(rng, prefixes)}>"
    elif r < 0.9:
        o = '"' + " ".join(rng.choice(WORDS) for _ in range(1 + rng.randrange(5))) + '"'
    else:
        o = f'"see {_rule_term(rng, prefixes)}"'
    return f"<{s}> <{p}> {o} ."


def nt_lines(seed: int, prefixes: list[str], n: int) -> list[str]:
    """The first n lines of the seed's stream (a prefix of any longer
    stream of the same seed)."""
    out: list[str] = []
    for c in range(0, n, NT_CHUNK):
        rng = _rng(seed, 3, c // NT_CHUNK)
        out.extend(_nt_line(rng, prefixes) for _ in range(min(NT_CHUNK, n - c)))
    return out


def write_nt_lines(path: str, seed: int, prefixes: list[str], n: int) -> list[str]:
    """n lines to `path`; returns them for the ground truth."""
    lines = nt_lines(seed, prefixes, n)
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    return lines
