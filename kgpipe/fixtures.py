"""Deterministic synthetic fixtures (seed 42) per FIXTURES.md.

No external data. Every generator is a pure function of (seed, n) so
two runs — and two parallelism levels — produce byte-identical
inputs. Spark-facing helpers return pandas frames that callers lift
with ``spark.createDataFrame`` (Arrow path).
"""

from __future__ import annotations

import datetime as dt
import random
from html import escape as html_escape

import pandas as pd

SEED = 42

# F2: the 16 fixture rules, verbatim from /root/reference/RULES:4-23.
# This set has no overlapping prefixes, so LPM and reference
# sequential order agree exactly (SURVEY.md §2c-Q13).
RULES_16_TEXT = """\
dbp         http://dbpedia.org/resource/
dbo         http://dbpedia.org/ontology/
dbprop      http://dbpedia.org/property/
gnd         http://d-nb.info/gnd/
dnb         http://d-nb.info/standards/elementset/gnd#
dnbac       http://d-nb.info/standards/vocab/gnd/geographic-area-code#
dnbvo       http://d-nb.info/standards/vocab/gnd/
viaf        http://viaf.org/viaf/
frbr        http://rdvocab.info/uri/schema/FRBRentitiesRDA/
rdgr        http://rdvocab.info/ElementsGr2/
foaf        http://xmlns.com/foaf/0.1/
rdf         http://www.w3.org/1999/02/22-rdf-syntax-ns#
rdfs        http://www.w3.org/2000/01/rdf-schema#
schema      http://schema.org/
dc          http://purl.org/dc/elements/1.1/
dcterms     http://purl.org/dc/terms/
"""

# Overlap-test extension (SURVEY.md §2c-Q13, F2): category is a
# longer prefix shadowed by dbp under reference order; xhv/xhtml
# likewise; the <NULL> rule strips its prefix (Q16).
RULES_OVERLAP_TEXT = (
    RULES_16_TEXT
    + """\
category    http://dbpedia.org/resource/Category:
xhv         http://www.w3.org/1999/xhtml/vocab#
xhtml       http://www.w3.org/1999/xhtml/
<NULL>      http://stripme.example.org/
"""
)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"

_PRED_POOL = [
    "http://xmlns.com/foaf/0.1/name",
    "http://purl.org/dc/terms/subject",
    "http://www.w3.org/2000/01/rdf-schema#label",
    "http://schema.org/about",
    "http://purl.org/dc/elements/1.1/title",
]

_WORDS = [
    "deep", "blue", "sea", "conference", "series", "berlin", "graph",
    "entity", "page", "knowledge", "web", "data", "archive", "crawl",
]


def _subject(rng: random.Random) -> str:
    k = rng.randrange(10_000)
    pool = rng.randrange(3)
    if pool == 0:
        return f"http://d-nb.info/gnd/{k}"
    if pool == 1:
        return f"http://dbpedia.org/resource/Entity{k}"
    return f"http://viaf.org/viaf/{k}"


def _predicate(rng: random.Random) -> str:
    # Zipfian-ish hot keys: ~40% rdf:type, ~10% owl:sameAs (skew
    # fixture for M7, FIXTURES.md F1).
    r = rng.random()
    if r < 0.40:
        return RDF_TYPE
    if r < 0.50:
        return OWL_SAMEAS
    return _PRED_POOL[rng.randrange(len(_PRED_POOL))]


def _object(rng: random.Random, pred: str) -> str:
    if pred in (RDF_TYPE, OWL_SAMEAS) or rng.random() < 0.5:
        return f"<{_subject(rng)}>"
    nwords = 1 + rng.randrange(4)
    lit = " ".join(rng.choice(_WORDS) for _ in range(nwords))
    return f'"{lit}"'


def nt_block(i: int) -> str:
    """1-20 N-Triples lines for page i; ~1% deliberately malformed
    (<3 tokens) to exercise the quarantine path (common.go:44-46)."""
    # integer-only seed: tuple/str seeds go through hash() which is
    # randomized per-process — would break run-to-run determinism
    rng = random.Random(SEED * 1_000_003 + i)
    n_lines = 1 + i % 20
    lines = []
    for j in range(n_lines):
        if rng.random() < 0.01:
            lines.append("<onlytwo> <tokens>")
            continue
        s = _subject(rng)
        p = _predicate(rng)
        o = _object(rng, p)
        lines.append(f"<{s}> <{p}> {o} .")
    return "\n".join(lines)


_PROSE = [
    "A page about {w} and {v} from the crawl.",
    "Notes on {w}, {v} and other topics.",
    "{w} {v} archive record.",
]


def prose(i: int) -> str:
    rng = random.Random(SEED * 2_000_003 + i)
    t = _PROSE[i % len(_PROSE)]
    return t.format(w=rng.choice(_WORDS), v=rng.choice(_WORDS))


_LANGS = ["en", "de", "fr", "es", "und"]
_EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)


def page_html(i: int) -> bytes:
    # NT payload is entity-escaped as any real page would carry it
    # (otherwise <http://...> IRIs would read as markup tags); the
    # extractor's charref conversion restores the raw lines.
    return (
        f"<html><head><title>Page {i}</title></head>"
        f"<body><p>{prose(i)}</p>"
        f'<pre class="nt">{html_escape(nt_block(i))}</pre></body></html>'
    ).encode("utf-8")


def gen_pages(n: int) -> pd.DataFrame:
    """F1 `pages` corpus: (url, warc_ts, html, text, lang)."""
    rows = {
        "url": [f"https://site{i % 97}.example.org/page/{i}" for i in range(n)],
        "warc_ts": [_EPOCH + dt.timedelta(seconds=i) for i in range(n)],
        "html": [page_html(i) for i in range(n)],
        "text": ["" for _ in range(n)],
        "lang": [_LANGS[i % 5] for i in range(n)],
    }
    return pd.DataFrame(rows)


def gen_sameas_graph() -> tuple[list[tuple[str, str]], dict[str, str]]:
    """F4 canonicalization fixture: deterministic graph over 1,000
    URIs — 300 singletons, 100 chains of length 5, 20 stars of size
    10, 5 cycles of size 4, one 100-node component. Returns (edges,
    golden canonical_map) where canon_id = min(component) computed by
    a union-find oracle."""
    def uri(k: int) -> str:
        return f"http://ex.org/e/{k:05d}"

    edges: list[tuple[str, str]] = []
    nid = 0
    nodes: list[str] = []

    def take(n: int) -> list[str]:
        nonlocal nid
        out = [uri(nid + j) for j in range(n)]
        nid += n
        return out

    singletons = take(300)
    nodes += singletons
    for _ in range(100):  # chains of length 5
        c = take(5)
        nodes += c
        edges += list(zip(c, c[1:]))
    for _ in range(20):  # stars of size 10
        s = take(10)
        nodes += s
        edges += [(s[0], x) for x in s[1:]]
    for _ in range(5):  # cycles of size 4
        c = take(4)
        nodes += c
        edges += list(zip(c, c[1:])) + [(c[-1], c[0])]
    giant = take(100)  # giant component, mixed topology
    nodes += giant
    rng = random.Random(SEED * 3_000_017)
    for j in range(1, 100):
        edges.append((giant[j], giant[rng.randrange(j)]))

    # union-find oracle
    parent = {u: u for u in nodes}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    golden = {u: find(u) for u in nodes}
    return edges, golden


def nt_pages(specs: list[list[str]], start: int = 0) -> pd.DataFrame:
    """Hand-crafted `pages`: specs is a list of lists of raw N-Triples
    lines, one page per inner list. URLs are unique per page (offset
    by `start` so successive deltas mint NEW urls)."""
    rows = {
        "url": [f"https://crafted.example.org/p/{start + i}" for i in range(len(specs))],
        "warc_ts": [
            dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc) + dt.timedelta(seconds=i)
            for i in range(len(specs))
        ],
        "html": [
            (
                "<html><body><pre class=\"nt\">"
                + html_escape("\n".join(lines))
                + "</pre></body></html>"
            ).encode()
            for lines in specs
        ],
        "text": ["" for _ in specs],
        "lang": ["en" for _ in specs],
    }
    return pd.DataFrame(rows)


def gen_uri_variants() -> pd.DataFrame:
    """F5 URI-variant fixture: 40 URIs, each in five variants that
    differ by scheme, www., a trailing slash or %20-encoding and so
    share one normal form; plus a true negative per URI at edit
    distance 2 in the path. Columns (uri, group_id) — group_id is the
    golden duplicate-cluster label."""
    rows = []
    gid = 0
    for k in range(40):
        base = f"example{k}.org/path/to/page {k}"
        variants = [
            f"http://{base}",
            f"https://{base}",
            f"http://www.{base}",
            f"http://{base}/",
            f"http://{base.replace(' ', '%20')}",
        ]
        for v in variants:
            rows.append((v, gid))
        gid += 1
        # true negative: edit distance 2 in path
        rows.append((f"http://example{k}.org/path/to/pXgZ{k}", gid))
        gid += 1
    return pd.DataFrame(rows, columns=["uri", "group_id"])
