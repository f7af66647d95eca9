"""End-to-end pipeline tests (SURVEY.md §5.2-4/5): P/R vs a pure-
Python reference implementation of ntto semantics, the linked graph
vs a pure-Python graph oracle, determinism across parallelism, and
idempotent resume from a partial checkpoint table."""

import collections
import dataclasses
import re
import subprocess

import pytest
from pyspark.sql import functions as F

from kgpipe.fixtures import RULES_16_TEXT, gen_pages, nt_pages
from kgpipe.nt.parser import NTParseError, parse_ntriple
from kgpipe.nt.rules import PrefixRewriter, parse_rules
from kgpipe.operators.extract import extract_text
from kgpipe.pipeline import PipelineConfig, PipelineResult, run_pipeline

N_PAGES = 150


def reference_triples(pages_pdf, mode="compat"):
    """Pure-Python reference: extract → rewrite → parse with ntto
    semantics (order-insensitive multiset, SURVEY.md §2c-Q10)."""
    rw = PrefixRewriter(parse_rules(RULES_16_TEXT), mode=mode)
    out = collections.Counter()
    n_err = 0
    for html in pages_pdf["html"]:
        text = extract_text(html)
        for line in text.split("\n"):
            line = rw.rewrite_term(line) if mode == "compat" else line
            try:
                s, p, o = parse_ntriple(line)
            except NTParseError:
                n_err += 1
                continue
            if mode == "lpm":
                s, p, o = rw.rewrite_term(s), rw.rewrite_term(p), rw.rewrite_term(o)
            out[(s, p, o)] += 1
    return out, n_err


OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
# the exact-normalized linker's URI normal form, restated: https→http,
# strip www., strip one trailing slash, decode %20
_NORM_REWRITES = [(r"^https://", "http://"), (r"^http://www\.", "http://"), (r"/$", ""),
                  (r"%20", " ")]


def _normal_form(term):
    for pat, rep in _NORM_REWRITES:
        term = re.sub(pat, rep, term)
    return term


def oracle_graph(triples, neardup=True, sameas=OWL_SAMEAS):
    """Pure-Python graph oracle over clean (s, p, o) triples, for the
    exact-normalized linker: union-find over the owl:sameAs pairs plus,
    with neardup, every group of terms sharing a normal form; canon =
    the component's minimum; one map row per link-edge endpoint; edges
    = each triple with s and o relabelled. Returns what _graph does."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for s, p, o in triples:
        if p == sameas:
            union(s, o)
    if neardup:
        groups = collections.defaultdict(set)
        for s, _p, o in triples:
            groups[_normal_form(s)].add(s)
            groups[_normal_form(o)].add(o)
        for g in groups.values():
            first, *rest = sorted(g)
            for t in rest:
                union(first, t)
    # union keeps the smaller root, so each root is its component's min
    canon = {t: find(t) for t in list(parent)}
    cmap = set(canon.items())
    edges = collections.Counter(
        (canon.get(s, s), p, canon.get(o, o)) for s, p, o in triples
    )
    return cmap, edges


def _graph(res):
    cmap = {(r.uri, r.canon_id) for r in res.canonical_map.collect()}
    edges = collections.Counter((r.canon_s, r.p, r.canon_o) for r in res.edges.collect())
    return cmap, edges


def _oracle(res, neardup=True):
    return oracle_graph(
        [(r.s, r.p, r.o) for r in res.triples.select("s", "p", "o").collect()], neardup
    )


@pytest.fixture(scope="module")
def warehouse(tmp_path_factory):
    return str(tmp_path_factory.mktemp("wh"))


@pytest.fixture(scope="module")
def result(spark, warehouse) -> PipelineResult:
    pages = spark.createDataFrame(gen_pages(N_PAGES)).repartition(7)
    cfg = PipelineConfig(warehouse=warehouse, rules_text=RULES_16_TEXT, mode="compat", n_parts=8)
    return run_pipeline(spark, pages, cfg)


def test_triples_match_reference_exactly(spark, result):
    """P/R vs the reference implementation. Exact match → P=R=1.0
    (≥0.95 required)."""
    expected, n_err = reference_triples(gen_pages(N_PAGES), mode="compat")
    got = collections.Counter(
        (r.s, r.p, r.o) for r in result.triples.select("s", "p", "o").collect()
    )
    inter = sum((got & expected).values())
    precision = inter / sum(got.values())
    recall = inter / sum(expected.values())
    assert precision == 1.0 and recall == 1.0, (precision, recall)
    # quarantine count matches the reference's rejected lines
    assert result.counters["extract_parse_abbrev"]["n_err"] == n_err


def test_compat_rewrite_matches_live_perl(spark, result):
    """Spot-check abbreviated triples against the reference's actual
    perl pipeline output on the same extracted text."""
    from kgpipe.nt.rules import sedify

    pages = gen_pages(10)
    lines = []
    for html in pages["html"]:
        lines.extend(extract_text(html).split("\n"))
    cmd = sedify(parse_rules(RULES_16_TEXT), 1, "")
    out = subprocess.run(cmd, shell=True, input="\n".join(lines), capture_output=True, text=True)
    rw = PrefixRewriter(parse_rules(RULES_16_TEXT), mode="compat")
    assert out.stdout.rstrip("\n").split("\n") == [rw.rewrite_term(l) for l in lines]


def test_sameas_collapsed_in_edges(spark, result):
    """Every subject connected by owl:sameAs must carry one canon id
    in the edge table."""
    sameas = result.triples.where(
        F.col("p") == "http://www.w3.org/2002/07/owl#sameAs"
    )
    if sameas.limit(1).count() == 0:
        pytest.skip("fixture produced no sameAs triples")
    cmap = {r.uri: r.canon_id for r in result.canonical_map.collect()}
    for r in sameas.select("s", "o").collect():
        assert cmap.get(r.s, r.s) == cmap.get(r.o, r.o)
    # and no raw uri on the edge table's canon_s that maps elsewhere
    for r in result.edges.select("canon_s").distinct().collect():
        assert cmap.get(r.canon_s, r.canon_s) == r.canon_s


def test_fresh_build_matches_graph_oracle(result):
    """A fresh warehouse is the first delta: its canonical map and
    edges equal the pure-Python graph oracle over its clean triples."""
    assert _graph(result) == _oracle(result)


def test_rerun_is_noop(spark, warehouse, result):
    """Second run over the same input: no new url, so no new work and
    identical outputs."""
    before = result.triples.count(), result.edges.count()
    log_before = spark.read.parquet(f"{warehouse}/checkpoints").count()
    pages = spark.createDataFrame(gen_pages(N_PAGES))
    cfg = PipelineConfig(warehouse=warehouse, rules_text=RULES_16_TEXT, mode="compat", n_parts=8)
    res2 = run_pipeline(spark, pages, cfg)
    log_after = spark.read.parquet(f"{warehouse}/checkpoints").count()
    assert log_after == log_before, "rerun logged new work"
    assert (res2.triples.count(), res2.edges.count()) == before


def test_resume_after_partial_failure(spark, tmp_path):
    """A run over half the pages, then a resume over all of them:
    the resume extracts only the unseen half and matches a clean
    run."""
    pages = spark.createDataFrame(gen_pages(60))
    wh_clean = str(tmp_path / "clean")
    wh_crash = str(tmp_path / "crash")
    cfg_clean = PipelineConfig(warehouse=wh_clean, rules_text=RULES_16_TEXT, mode="compat", n_parts=4)
    clean = run_pipeline(spark, pages, cfg_clean)

    half = pages.limit(30)
    cfg_crash = PipelineConfig(warehouse=wh_crash, rules_text=RULES_16_TEXT, mode="compat", n_parts=4)
    run_pipeline(spark, half, cfg_crash)
    done_parts_before = (
        spark.read.parquet(f"{wh_crash}/checkpoints")
        .where(F.col("stage") == "extract_parse_abbrev")
        .count()
    )
    # resume with the full input: only the new urls are extracted
    res = run_pipeline(spark, pages, cfg_crash)
    got = collections.Counter((r.s, r.p, r.o) for r in res.triples.select("s", "p", "o").collect())
    exp = collections.Counter((r.s, r.p, r.o) for r in clean.triples.select("s", "p", "o").collect())
    assert got == exp
    assert done_parts_before > 0


def test_fused_equals_chained(spark):
    """The pipeline's fused extract stage equals the pure-Python
    reference_triples page by page, in both modes: clean (s, p, o, url)
    rows as a multiset, and the quarantine count."""
    from kgpipe.checkpoints import with_part_id
    from kgpipe.operators.fused import fused_extract_parse_abbrev

    pdf = gen_pages(80)
    pages = with_part_id(spark.createDataFrame(pdf).select("url", "html"), "url", 8)
    rules = parse_rules(RULES_16_TEXT)
    for mode in ("compat", "lpm"):
        exp, exp_err = collections.Counter(), 0
        for i in range(len(pdf)):
            triples, n_err = reference_triples(pdf.iloc[i : i + 1], mode=mode)
            exp.update({t + (pdf["url"][i],): n for t, n in triples.items()})
            exp_err += n_err
        rows = fused_extract_parse_abbrev(pages, rules, mode=mode).collect()
        got = collections.Counter((r.s, r.p, r.o, r.url) for r in rows if r.error is None)
        assert got == exp, f"mode {mode} diverged"
        assert sum(r.error is not None for r in rows) == exp_err


def test_incremental_link_matches_full(spark, tmp_path):
    """Daily delta: batch 1, then batches 1+2 — the link stage only
    processes the new urls, merging via incremental_merge and the
    persisted norm-hub index — compared against a fresh build over
    everything and the graph oracle. canonical_map and edges must be
    IDENTICAL."""
    all_pages = gen_pages(120)
    batch1 = all_pages.iloc[:80]

    cfg_inc = PipelineConfig(
        warehouse=str(tmp_path / "wh_inc"), rules_text=RULES_16_TEXT,
        mode="compat", n_parts=8,
    )
    run_pipeline(spark, spark.createDataFrame(batch1).repartition(5), cfg_inc)
    res_inc = run_pipeline(spark, spark.createDataFrame(all_pages).repartition(5), cfg_inc)

    cfg_full = PipelineConfig(
        warehouse=str(tmp_path / "wh_full"), rules_text=RULES_16_TEXT,
        mode="compat", n_parts=8,
    )
    res_full = run_pipeline(spark, spark.createDataFrame(all_pages).repartition(5), cfg_full)

    cmap_inc = {(r.uri, r.canon_id) for r in res_inc.canonical_map.collect()}
    cmap_full = {(r.uri, r.canon_id) for r in res_full.canonical_map.collect()}
    assert cmap_inc == cmap_full

    e_inc = collections.Counter(
        (r.canon_s, r.p, r.canon_o) for r in res_inc.edges.collect()
    )
    e_full = collections.Counter(
        (r.canon_s, r.p, r.canon_o) for r in res_full.edges.collect()
    )
    assert e_inc == e_full
    assert _graph(res_inc) == _oracle(res_inc)


def test_incremental_link_rerun_is_noop(spark, tmp_path):
    """Re-running the pipeline with no new pages leaves the canonical
    map unchanged (the delta is empty)."""
    pages = spark.createDataFrame(gen_pages(40)).repartition(3)
    cfg = PipelineConfig(
        warehouse=str(tmp_path / "wh_noop"), rules_text=RULES_16_TEXT,
        mode="compat", n_parts=4,
    )
    first = run_pipeline(spark, pages, cfg)
    before = {(r.uri, r.canon_id) for r in first.canonical_map.collect()}
    second = run_pipeline(spark, pages, cfg)
    after = {(r.uri, r.canon_id) for r in second.canonical_map.collect()}
    assert before == after


def test_incremental_link_recrawl_triggers_rebuild(spark, tmp_path):
    """A re-crawled url (content changed → possible retraction) must
    NOT be merged silently: the stage detects the changed url
    fingerprint, rebuilds from all current triples, and the result
    equals a fresh build over the modified corpus and the oracle."""
    pages = gen_pages(60)
    cfg_inc = PipelineConfig(
        warehouse=str(tmp_path / "wh_rc"), rules_text=RULES_16_TEXT,
        mode="compat", n_parts=4,
    )
    run_pipeline(spark, spark.createDataFrame(pages).repartition(3), cfg_inc)

    # re-crawl: swap the html of two pages (two urls' content changes)
    recrawled = pages.copy()
    recrawled.loc[0, "html"], recrawled.loc[1, "html"] = (
        pages.loc[1, "html"], pages.loc[0, "html"],
    )
    res_inc = run_pipeline(
        spark, spark.createDataFrame(recrawled).repartition(3), cfg_inc
    )

    cfg_full = PipelineConfig(
        warehouse=str(tmp_path / "wh_rc_full"), rules_text=RULES_16_TEXT,
        mode="compat", n_parts=4,
    )
    res_full = run_pipeline(
        spark, spark.createDataFrame(recrawled).repartition(3), cfg_full
    )
    cmap_inc = {(r.uri, r.canon_id) for r in res_inc.canonical_map.collect()}
    cmap_full = {(r.uri, r.canon_id) for r in res_full.canonical_map.collect()}
    assert cmap_inc == cmap_full
    assert _graph(res_inc) == _oracle(res_inc)


def test_url_fingerprint_breaks_even_multiplicity(spark):
    """[A, A, B] → [B] keeps the same xor of row hashes (A cancels
    itself), so the url fingerprint must fold in the row count or a
    re-crawl that retracts an even number of copies goes undetected."""
    from kgpipe.pipeline import _url_fingerprints

    before = spark.createDataFrame(
        [("a", "p", "x", "u"), ("a", "p", "x", "u"), ("b", "p", "y", "u")],
        "s string, p string, o string, url string",
    )
    after = spark.createDataFrame(
        [("b", "p", "y", "u")], "s string, p string, o string, url string"
    )
    fp_before = _url_fingerprints(before).collect()[0]["ufp"]
    fp_after = _url_fingerprints(after).collect()[0]["ufp"]
    assert fp_before != fp_after


def test_incremental_link_url_removal_triggers_rebuild(spark, tmp_path):
    """A url present in the linked_urls index but ABSENT from the
    current triples is a retraction: merge-only incrementality cannot
    un-link it, so the stage must rebuild — the shrunken corpus's
    result must equal a from-scratch run, with no stale canon entries
    from the removed pages."""
    pages = gen_pages(60)
    cfg_inc = PipelineConfig(
        warehouse=str(tmp_path / "wh_rm"), rules_text=RULES_16_TEXT,
        mode="compat", n_parts=4,
    )
    run_pipeline(spark, spark.createDataFrame(pages).repartition(3), cfg_inc)

    shrunk = pages.iloc[:45]
    res_inc = run_pipeline(
        spark, spark.createDataFrame(shrunk).repartition(3), cfg_inc
    )
    cfg_full = PipelineConfig(
        warehouse=str(tmp_path / "wh_rm_full"), rules_text=RULES_16_TEXT,
        mode="compat", n_parts=4,
    )
    res_full = run_pipeline(
        spark, spark.createDataFrame(shrunk).repartition(3), cfg_full
    )
    cmap_inc = {(r.uri, r.canon_id) for r in res_inc.canonical_map.collect()}
    cmap_full = {(r.uri, r.canon_id) for r in res_full.canonical_map.collect()}
    assert cmap_inc == cmap_full
    assert _graph(res_inc) == _oracle(res_inc)


def test_incremental_link_respects_neardup_false(spark, tmp_path):
    """A delta with neardup_link=False must produce the same canonical
    map as a fresh build with neardup_link=False (explicit sameAs
    edges ONLY — no invented norm→hub edges), and must not build the
    norm_hubs index at all."""
    import os

    all_pages = gen_pages(80)
    wh = str(tmp_path / "wh_nd0")
    cfg_inc = PipelineConfig(
        warehouse=wh, rules_text=RULES_16_TEXT, mode="compat", n_parts=4,
        neardup_link=False,
    )
    run_pipeline(spark, spark.createDataFrame(all_pages.iloc[:50]).repartition(3), cfg_inc)
    res_inc = run_pipeline(spark, spark.createDataFrame(all_pages).repartition(3), cfg_inc)

    cfg_full = PipelineConfig(
        warehouse=str(tmp_path / "wh_nd0_full"), rules_text=RULES_16_TEXT,
        mode="compat", n_parts=4, neardup_link=False,
    )
    res_full = run_pipeline(spark, spark.createDataFrame(all_pages).repartition(3), cfg_full)

    cmap_inc = {(r.uri, r.canon_id) for r in res_inc.canonical_map.collect()}
    cmap_full = {(r.uri, r.canon_id) for r in res_full.canonical_map.collect()}
    assert cmap_inc == cmap_full
    assert _graph(res_inc) == _oracle(res_inc, neardup=False)
    assert not os.path.exists(os.path.join(wh, "norm_hubs"))


def test_noop_resume_is_metadata_only(spark, tmp_path, monkeypatch):
    """r4 verdict "wrong" #2, closed: a rerun over unchanged source
    files must execute ZERO jobs over table data. Pinned structurally:
    every data-scanning fingerprint helper is monkeypatched to raise,
    and the resume must still return the full result."""
    import kgpipe.pipeline as pl

    src = str(tmp_path / "pages")
    spark.createDataFrame(gen_pages(60)).write.parquet(src)
    pages = spark.read.parquet(src)
    wh = str(tmp_path / "wh_meta")
    cfg = PipelineConfig(warehouse=wh, rules_text=RULES_16_TEXT, mode="compat", n_parts=4)
    first = run_pipeline(spark, pages, cfg)
    n_triples, n_edges = first.triples.count(), first.edges.count()

    def boom(*a, **k):
        raise AssertionError("no-op resume scanned table data")

    monkeypatch.setattr(pl, "_page_fingerprints", boom)
    monkeypatch.setattr(pl, "_url_fingerprints", boom)
    monkeypatch.setattr(pl, "fused_extract_parse_abbrev", boom)

    res = run_pipeline(spark, spark.read.parquet(src), cfg)
    assert (res.triples.count(), res.edges.count()) == (n_triples, n_edges)
    assert "extract_parse_abbrev" in res.counters


def test_noop_resume_metadata_only_incremental(spark, tmp_path, monkeypatch):
    """Same pin with the legacy incremental_link flag set: it still
    parses, the url-fingerprint scan is skipped on a manifest hit, and
    the resumed canonical map equals the first run's."""
    import kgpipe.pipeline as pl

    src = str(tmp_path / "pages_inc")
    spark.createDataFrame(gen_pages(40)).write.parquet(src)
    wh = str(tmp_path / "wh_meta_inc")
    cfg = PipelineConfig(
        warehouse=wh, rules_text=RULES_16_TEXT, mode="compat", n_parts=4,
        incremental_link=True,
    )
    first = run_pipeline(spark, spark.read.parquet(src), cfg)
    before = {(r.uri, r.canon_id) for r in first.canonical_map.collect()}

    def boom(*a, **k):
        raise AssertionError("no-op resume scanned table data")

    monkeypatch.setattr(pl, "_page_fingerprints", boom)
    monkeypatch.setattr(pl, "_url_fingerprints", boom)
    monkeypatch.setattr(pl, "fused_extract_parse_abbrev", boom)
    res = run_pipeline(spark, spark.read.parquet(src), cfg)
    assert {(r.uri, r.canon_id) for r in res.canonical_map.collect()} == before


def test_manifest_skip_defeated_by_config_or_file_change(spark, tmp_path):
    """The manifest short-circuit must NOT survive a config change or
    a source-file change — either reruns the stages."""
    import kgpipe.pipeline as pl

    src = str(tmp_path / "pages_chg")
    spark.createDataFrame(gen_pages(30)).write.parquet(src)
    wh = str(tmp_path / "wh_chg")
    cfg = PipelineConfig(warehouse=wh, rules_text=RULES_16_TEXT, mode="compat", n_parts=4)
    run_pipeline(spark, spark.read.parquet(src), cfg)

    # config change → different key → stages run (observable: the
    # checkpoint ledger gains rows for the re-keyed link stage)
    import dataclasses

    cfg2 = dataclasses.replace(cfg, neardup_link=False)
    res2 = run_pipeline(spark, spark.read.parquet(src), cfg2)
    assert res2.canonical_map is not None

    # file change → manifest differs → full detection path again
    spark.createDataFrame(gen_pages(31)).write.mode("overwrite").parquet(src)
    res3 = run_pipeline(spark, spark.read.parquet(src), cfg2)
    assert res3.triples.count() > 0

    # and a filtered view of the same files is NOT the same source
    m_all = pl._source_manifest(spark.read.parquet(src))
    m_filtered = pl._source_manifest(
        spark.read.parquet(src).where(F.col("lang") == "en")
    )
    assert m_all is not None and m_filtered is not None and m_all != m_filtered


def _changed(value):
    """Another value of the same type."""
    if isinstance(value, bool):
        return not value
    if isinstance(value, int):
        return value + 1
    return value + "x"


@pytest.mark.parametrize(
    "name", [f.name for f in dataclasses.fields(PipelineConfig)]
)
def test_config_key_covers_output_fields(tmp_path, name):
    """Every PipelineConfig field but the two non-output ones defeats
    the run-manifest short-circuit when it changes; a change of a
    non-output field keeps it."""
    import kgpipe.pipeline as pl

    cfg = PipelineConfig(warehouse=str(tmp_path), rules_text=RULES_16_TEXT)
    other = dataclasses.replace(cfg, **{name: _changed(getattr(cfg, name))})
    changes_key = pl._config_key(cfg) != pl._config_key(other)
    assert changes_key == (name not in {"warehouse", "incremental_link"})


def test_incremental_link_config_change_triggers_rebuild(spark, tmp_path):
    """ADVICE r5: rerunning an incremental warehouse under a DIFFERENT
    link config must not keep merges made under the old one (merges
    cannot retract) — the persisted link-config digest routes the run
    to a full rebuild, and the result equals a from-scratch run under
    the new config. Two variants of one URI in the base batch make
    the old map hold a normal-form merge the new config does not."""
    import pandas as pd

    from kgpipe.io import TableIO
    from kgpipe.pipeline import LINKED_URLS_DDL

    variants = nt_pages([
        ["<https://www.cfg.example/a> <http://cfg.example/p> \"a1\" ."],
        ["<http://cfg.example/a/> <http://cfg.example/p> \"a2\" ."],
    ])
    base_pages = pd.concat([gen_pages(60), variants], ignore_index=True)
    all_pages = pd.concat([gen_pages(100), variants], ignore_index=True)
    wh = str(tmp_path / "wh_cfgchg")
    cfg_neardup = PipelineConfig(
        warehouse=wh, rules_text=RULES_16_TEXT, mode="compat", n_parts=8,
    )
    run_pipeline(
        spark, spark.createDataFrame(base_pages).repartition(5), cfg_neardup
    )
    # same warehouse, sameAs-only linking now: the persisted map holds
    # normal-form merges the new config does not make → must rebuild
    cfg_sameas = dataclasses.replace(cfg_neardup, neardup_link=False)
    res = run_pipeline(spark, spark.createDataFrame(all_pages).repartition(5), cfg_sameas)

    io = TableIO(spark, wh)
    batches = {
        r.batch_fp
        for r in io.read("linked_urls", LINKED_URLS_DDL)
        .select("batch_fp").distinct().collect()
    }
    assert any(b.startswith("rebuild") for b in batches), (
        "link-config change must route to the full-rebuild path"
    )

    cfg_scratch = PipelineConfig(
        warehouse=str(tmp_path / "wh_cfgchg_full"), rules_text=RULES_16_TEXT,
        mode="compat", n_parts=8, neardup_link=False,
    )
    res_full = run_pipeline(
        spark, spark.createDataFrame(all_pages).repartition(5), cfg_scratch
    )
    assert {(r.uri, r.canon_id) for r in res.canonical_map.collect()} == {
        (r.uri, r.canon_id) for r in res_full.canonical_map.collect()
    }
    assert _graph(res) == _oracle(res, neardup=False)
    assert _oracle(res) != _oracle(res, neardup=False)


def test_rerun_with_other_n_buckets_rebuckets_edges(spark, tmp_path):
    """A rerun under another n_buckets brings no new pages, so no batch
    is pending — materialize must still rewrite the edges: every
    part_id follows the new count, the layout state records it, and
    the graph is unchanged."""
    import dataclasses

    import kgpipe.pipeline as pl
    from kgpipe.io import TableIO

    pages = spark.createDataFrame(gen_pages(40)).repartition(3)
    cfg = PipelineConfig(
        warehouse=str(tmp_path / "wh_nb"), rules_text=RULES_16_TEXT,
        mode="compat", n_parts=4, n_buckets=8,
    )
    before = _graph(run_pipeline(spark, pages, cfg))
    res = run_pipeline(spark, pages, dataclasses.replace(cfg, n_buckets=4))

    stale = res.edges.where(
        F.col("part_id") != F.pmod(F.xxhash64("canon_s"), F.lit(4))
    ).count()
    assert stale == 0
    assert TableIO(spark, cfg.warehouse).read_json(pl.MAT_STATE)["n_buckets"] == 4
    assert _graph(res) == before
    assert _graph(res) == _oracle(res)



SAMEAS = "<http://www.w3.org/2002/07/owl#sameAs>"


def _uncovered(io) -> set:
    """triples_raw layers the edge table's coverage marker does not
    list — every layer when the edges have no marker."""
    import kgpipe.pipeline as pl

    cover = io.read_json(pl.MAT_STATE) or {"layers": []}
    return set(pl._partition_values(io, "triples_raw", "batch_fp")) - set(cover["layers"])


def _edges_rewritten(io) -> bool:
    """The edge dir holds part_id= dirs only, and its coverage marker
    lists every triples_raw layer."""
    import os

    root = io.path("edges")
    dirs = [d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))]
    return bool(dirs) and all(d.startswith("part_id=") for d in dirs) and not _uncovered(io)


def _edge_files(wh) -> dict:
    """{path under the edge dir: mtime in ns} of every file in it."""
    root = wh / "edges"
    return {str(f.relative_to(root)): f.stat().st_mtime_ns for f in root.rglob("*") if f.is_file()}


def test_multi_pending_batches_compose_chained_changes(spark, tmp_path, monkeypatch):
    """Several triples_raw layers the edges do not cover, whose label
    changes CHAIN (batch 1: kx-c→kx-b, batch 2: kx-b→kx-a — canon is
    the lexicographic component min): the edge table still holds
    pre-batch-1 labels. The materialize that finally meets them — a
    resumed run with two uncovered layers — rewrites the edge table.
    Layers are left uncovered by suppressing the materialize stage
    during the delta runs — exactly the crash shape (link committed,
    materialize not reached)."""
    import kgpipe.pipeline as pl
    from kgpipe.io import TableIO

    # base: component {kx-c, kx-d} (canon kx-c) + filler entities so
    # the edge table spans several part_id dirs
    base = [
        [
            f"<http://kx-c.example/e> {SAMEAS} <http://kx-d.example/e> .",
            "<http://kx-d.example/e> <http://kx-p.example/t> \"base\" .",
        ]
    ] + [
        [f"<http://kx-fill{i}.example/e> <http://kx-p.example/t> \"f{i}\" ."]
        for i in range(24)
    ]
    d1 = [[f"<http://kx-b.example/e> {SAMEAS} <http://kx-c.example/e> ."]]
    d2 = [[f"<http://kx-a.example/e> {SAMEAS} <http://kx-d.example/e> ."]]

    wh = str(tmp_path / "wh_pend")
    cfg = PipelineConfig(
        warehouse=wh, rules_text=RULES_16_TEXT, mode="compat", n_parts=8,
    )
    p_base = nt_pages(base)
    p_d1 = nt_pages(d1, start=100)
    p_d2 = nt_pages(d2, start=200)
    import pandas as pd

    run_pipeline(spark, spark.createDataFrame(p_base).repartition(4), cfg)

    # deltas 1 and 2: link runs and swaps in each merged map,
    # materialize never reached — both batches stack up pending
    io = TableIO(spark, wh)

    def canon_of(uri):
        rows = io.read("canonical_map", pl.CMAP_DDL).where(F.col("uri") == uri).collect()
        return rows[0].canon_id

    real_mat = pl._stage_materialize_incremental
    monkeypatch.setattr(pl, "_stage_materialize_incremental", lambda *a, **k: None)
    all_d1 = pd.concat([p_base, p_d1], ignore_index=True)
    run_pipeline(spark, spark.createDataFrame(all_d1).repartition(4), cfg)
    # the chain: batch 1 relabels kx-c's component to kx-b, batch 2
    # relabels kx-b to kx-a
    assert canon_of("http://kx-d.example/e") == "http://kx-b.example/e"
    all_d2 = pd.concat([all_d1, p_d2], ignore_index=True)
    run_pipeline(spark, spark.createDataFrame(all_d2).repartition(4), cfg)
    assert canon_of("http://kx-d.example/e") == "http://kx-a.example/e"
    monkeypatch.setattr(pl, "_stage_materialize_incremental", real_mat)
    assert len(_uncovered(io)) == 2

    # one run meets BOTH uncovered layers: it rewrites the edge table
    res = run_pipeline(spark, spark.createDataFrame(all_d2).repartition(4), cfg)
    assert _edges_rewritten(io)
    cfg_ref = PipelineConfig(
        warehouse=str(tmp_path / "wh_pend_ref"), rules_text=RULES_16_TEXT,
        mode="compat", n_parts=8,
    )
    ref = run_pipeline(spark, spark.createDataFrame(all_d2).repartition(4), cfg_ref)
    got = collections.Counter((r.canon_s, r.p, r.canon_o) for r in res.edges.collect())
    exp = collections.Counter((r.canon_s, r.p, r.canon_o) for r in ref.edges.collect())
    assert got == exp
    # the pre-batch-1 label kx-c is gone from the edge table
    assert not any(k[0] == "http://kx-c.example/e" for k in got)
    assert _graph(res) == _oracle(res)


def test_merge_storm_triggers_full_rebuild(spark, tmp_path):
    """A delta whose merges relabel nearly every component: materialize
    rewrites the edge table into part_id dirs whose coverage marker
    lists every triples_raw layer, and the result must still equal a
    scratch recompute."""
    from kgpipe.io import TableIO

    k = 24
    base = [
        [
            f"<http://kx-m{i:02d}.example/e> {SAMEAS} <http://kx-n{i:02d}.example/e> .",
            f"<http://kx-n{i:02d}.example/e> <http://kx-p.example/t> \"b{i}\" .",
        ]
        for i in range(k)
    ]
    # every component gets a new lexicographically-SMALLER member →
    # every canon label changes
    storm = [
        [f"<http://kx-a{i:02d}.example/e> {SAMEAS} <http://kx-n{i:02d}.example/e> ."]
        for i in range(k)
    ]
    wh = str(tmp_path / "wh_storm")
    cfg = PipelineConfig(
        warehouse=wh, rules_text=RULES_16_TEXT, mode="compat", n_parts=8,
    )
    import pandas as pd

    p_base = nt_pages(base)
    run_pipeline(spark, spark.createDataFrame(p_base).repartition(4), cfg)
    all_pages = pd.concat([p_base, nt_pages(storm, start=500)], ignore_index=True)
    res = run_pipeline(spark, spark.createDataFrame(all_pages).repartition(4), cfg)

    assert _edges_rewritten(TableIO(spark, wh))
    cfg_ref = PipelineConfig(
        warehouse=str(tmp_path / "wh_storm_ref"), rules_text=RULES_16_TEXT,
        mode="compat", n_parts=8,
    )
    ref = run_pipeline(spark, spark.createDataFrame(all_pages).repartition(4), cfg_ref)
    got = collections.Counter((r.canon_s, r.p, r.canon_o) for r in res.edges.collect())
    exp = collections.Counter((r.canon_s, r.p, r.canon_o) for r in ref.edges.collect())
    assert got == exp
    assert _graph(res) == _oracle(res)


def test_materialize_broadcast_gate_output_identical(spark, tmp_path, monkeypatch):
    """r8: the materialize stage broadcasts the canonical map only
    while it fits CMAP_BROADCAST_LIMIT (the module contract — an
    unconditional broadcast of a corpus-sized map OOMs at scale).
    Forcing the gate to 0 must route through the sort-merge join and
    produce BIT-identical edges; the gate's size signal (the link
    stage's ledger n_out) must match the real cmap row count."""
    import collections

    import kgpipe.pipeline as P

    pages = spark.createDataFrame(gen_pages(40))
    res_a = run_pipeline(
        spark,
        pages,
        PipelineConfig(warehouse=str(tmp_path / "wa"), rules_text=RULES_16_TEXT,
                       mode="compat", n_parts=4),
    )
    monkeypatch.setattr(P, "CMAP_BROADCAST_LIMIT", 0)
    res_b = run_pipeline(
        spark,
        pages,
        PipelineConfig(warehouse=str(tmp_path / "wb"), rules_text=RULES_16_TEXT,
                       mode="compat", n_parts=4),
    )
    a = collections.Counter((r.canon_s, r.p, r.canon_o) for r in res_a.edges.collect())
    b = collections.Counter((r.canon_s, r.p, r.canon_o) for r in res_b.edges.collect())
    assert a == b and sum(a.values()) > 0


def _cfg(wh, **kw):
    kw = {"rules_text": RULES_16_TEXT, **kw}
    return PipelineConfig(warehouse=str(wh), mode="compat", n_parts=4, n_buckets=8, **kw)


def test_delta_extracts_only_new_pages(spark, tmp_path, monkeypatch):
    """A delta run feeds the extractor only the pages whose url the
    index has never seen, writes them as ONE triples_raw layer with one
    ledger row, and computes url content fingerprints over that layer
    alone — _url_fingerprints never sees an old url."""
    import time

    import kgpipe.pipeline as pl

    all_pages = gen_pages(60)
    cfg = _cfg(tmp_path / "wh_only_new")
    run_pipeline(spark, spark.createDataFrame(all_pages.iloc[:50]).repartition(3), cfg)
    new_urls = set(all_pages["url"].iloc[50:])

    extracted, fingerprinted = [], []
    real_fused, real_ufp = pl.fused_extract_parse_abbrev, pl._url_fingerprints

    def spy_fused(pages_df, *a, **k):
        extracted.append({r.url for r in pages_df.select("url").collect()})
        return real_fused(pages_df, *a, **k)

    def spy_ufp(triples):
        fingerprinted.append({r.url for r in triples.select("url").distinct().collect()})
        return real_ufp(triples)

    monkeypatch.setattr(pl, "fused_extract_parse_abbrev", spy_fused)
    monkeypatch.setattr(pl, "_url_fingerprints", spy_ufp)
    before = pl._partition_values(pl.TableIO(spark, cfg.warehouse), "triples_raw", "batch_fp")
    t0 = time.time()
    res = run_pipeline(spark, spark.createDataFrame(all_pages).repartition(3), cfg)

    assert extracted == [new_urls]
    assert fingerprinted and all(urls <= new_urls for urls in fingerprinted)
    io = pl.TableIO(spark, cfg.warehouse)
    after = pl._partition_values(io, "triples_raw", "batch_fp")
    assert len(after) == len(before) + 1
    rows = [
        r for r in spark.read.parquet(f"{cfg.warehouse}/checkpoints").collect()
        if r.stage == "extract_parse_abbrev" and r.ts >= t0
    ]
    assert [r.n_in for r in rows] == [len(new_urls)]

    monkeypatch.undo()
    ref = run_pipeline(
        spark, spark.createDataFrame(all_pages).repartition(3),
        PipelineConfig(warehouse=str(tmp_path / "wh_only_new_full"),
                       rules_text=RULES_16_TEXT, mode="compat", n_parts=4, n_buckets=8),
    )
    assert _graph(res) == _graph(ref) == _oracle(res)


def test_delta_run_killed_at_each_write_resumes(spark, tmp_path, monkeypatch):
    """Kill a delta run after its k-th TableIO.write / replace /
    write_json_atomic / write_small_rows (the ledger lands through the
    last), for every k, then rerun it: the canonical map and the edges
    equal both an uninterrupted delta run and a fresh build. Writes
    nested inside another counted write (replace's staged write)
    belong to the outer one. The delta changes canon labels the old
    edges hold, so a kill right after the map swap leaves a retry
    whose merge changes nothing over the already-merged map: the
    coverage marker, which does not list the new layer yet, still
    makes it rewrite the stale old edges."""
    import shutil

    import pandas as pd

    from kgpipe.fixtures import nt_block
    from kgpipe.io import TableIO

    # the delta: gen_pages' next 6 pages, whose label changes are all
    # new URIs joining old components (no old edge holds them), plus a
    # page giving page 0's subject a sameAs twin that sorts first — it
    # relabels a component the old edges hold
    s0 = nt_block(0).split()[0]
    all_pages = pd.concat(
        [gen_pages(36), nt_pages([[f"{s0} {SAMEAS} <0-twin.example/e> ."]])],
        ignore_index=True,
    )
    base_df = spark.createDataFrame(all_pages.iloc[:30]).repartition(2)
    all_df = spark.createDataFrame(all_pages).repartition(2)
    base_wh = tmp_path / "base"
    base = run_pipeline(spark, base_df, _cfg(base_wh))
    rw = PrefixRewriter(parse_rules(RULES_16_TEXT), mode="compat")
    s0_abbr = parse_ntriple(rw.rewrite_term(nt_block(0)))[0]
    base_cmap, base_edges = _graph(base)
    old_label = dict(base_cmap).get(s0_abbr, s0_abbr)
    assert any(old_label in (cs, co) for cs, _p, co in base_edges)

    fresh = run_pipeline(
        spark, all_df,
        PipelineConfig(warehouse=str(tmp_path / "full"), rules_text=RULES_16_TEXT,
                       mode="compat", n_parts=4, n_buckets=8),
    )
    full = _graph(fresh)
    assert full == _oracle(fresh)

    class Killed(Exception):
        pass

    state = {"depth": 0, "n": 0, "kill_at": None}

    def counted(orig):
        def w(self, *a, **k):
            state["depth"] += 1
            try:
                out = orig(self, *a, **k)
            finally:
                state["depth"] -= 1
            if state["depth"] == 0:
                state["n"] += 1
                if state["n"] == state["kill_at"]:
                    raise Killed(state["n"])
            return out
        return w

    for name in ("write", "replace", "write_json_atomic", "write_small_rows"):
        monkeypatch.setattr(TableIO, name, counted(getattr(TableIO, name)))

    def delta_run(wh, kill_at=None):
        shutil.rmtree(wh, ignore_errors=True)
        shutil.copytree(base_wh, wh)
        state.update(n=0, kill_at=kill_at)
        if kill_at is not None:
            with pytest.raises(Killed):
                run_pipeline(spark, all_df, _cfg(wh))
            state.update(n=0, kill_at=None)
        return run_pipeline(spark, all_df, _cfg(wh))

    uninterrupted = _graph(delta_run(tmp_path / "clean"))
    n_writes = state["n"]
    assert uninterrupted == full
    assert not any(old_label in (cs, co) for cs, _p, co in uninterrupted[1])
    assert n_writes >= 6  # layer, hubs, map, url index, edges, coverage marker
    for k in range(1, n_writes + 1):
        assert _graph(delta_run(tmp_path / f"kill{k}", kill_at=k)) == full, f"killed at write {k}"


def test_old_layout_warehouse_migrates_once(spark, tmp_path):
    """A warehouse written before the delta-first layout — triples_raw
    partitioned by part_id only, a url index without page
    fingerprints — migrates through ONE rebuild that re-extracts every
    page; the next delta is a plain delta again, not a second
    rebuild."""
    import time

    import kgpipe.pipeline as pl

    all_pages = gen_pages(70)
    wh = tmp_path / "wh_old"
    cfg = _cfg(wh)
    run_pipeline(spark, spark.createDataFrame(all_pages.iloc[:50]).repartition(3), cfg)

    # rewrite it into the old layout
    io = pl.TableIO(spark, str(wh))
    raw = io.read("triples_raw", pl.RAW_LAYER_DDL).drop("batch_fp").localCheckpoint()
    io.drop("triples_raw")
    io.write(raw, "triples_raw", mode="overwrite", partition_by=["part_id"])
    urls = io.read("linked_urls", pl.LINKED_URLS_DDL).drop("pfp").localCheckpoint()
    io.drop("linked_urls")
    io.write(urls, "linked_urls", mode="overwrite", partition_by=["batch_fp"])
    assert pl._partition_values(io, "triples_raw", "part_id")

    t0 = time.time()
    res = run_pipeline(spark, spark.createDataFrame(all_pages.iloc[:60]).repartition(3), cfg)
    n_in = [
        r.n_in for r in spark.read.parquet(f"{wh}/checkpoints").collect()
        if r.stage == "extract_parse_abbrev" and r.ts >= t0
    ]
    assert n_in == [60]
    layers = pl._partition_values(io, "triples_raw", "batch_fp")
    assert not pl._partition_values(io, "triples_raw", "part_id")
    assert len(layers) == 1 and layers[0].startswith("rebuild_")
    assert pl._partition_values(io, "linked_urls", "batch_fp") == layers
    assert io.read("linked_urls", pl.LINKED_URLS_DDL).where(F.col("pfp").isNull()).count() == 0
    ref_cfg = dict(rules_text=RULES_16_TEXT, mode="compat", n_parts=4, n_buckets=8)
    ref = run_pipeline(
        spark, spark.createDataFrame(all_pages.iloc[:60]).repartition(3),
        PipelineConfig(warehouse=str(tmp_path / "ref60"), **ref_cfg),
    )
    assert _graph(res) == _graph(ref)

    res = run_pipeline(spark, spark.createDataFrame(all_pages).repartition(3), cfg)
    batches = pl._partition_values(io, "linked_urls", "batch_fp")
    assert len(batches) == 2 and sum(b.startswith("rebuild_") for b in batches) == 1
    assert sorted(pl._partition_values(io, "triples_raw", "batch_fp")) == sorted(batches)
    ref = run_pipeline(
        spark, spark.createDataFrame(all_pages).repartition(3),
        PipelineConfig(warehouse=str(tmp_path / "ref70"), **ref_cfg),
    )
    assert _graph(res) == _graph(ref) == _oracle(res)


def test_cosmetic_recrawl_is_not_a_change(spark, tmp_path, monkeypatch):
    """A re-crawled page whose clean triples did not change (only its
    markup did) neither rebuilds nor re-links: its new page fingerprint
    joins the url index, so the next run does not extract it again."""
    import kgpipe.pipeline as pl

    pages = gen_pages(40)
    cfg = _cfg(tmp_path / "wh_cosmetic")
    run_pipeline(spark, spark.createDataFrame(pages).repartition(3), cfg)
    recrawled = pages.copy()
    for i in (3, 7):
        html = recrawled.at[i, "html"]
        recrawled.at[i, "html"] = html.replace(b"<html>", b'<html lang="en">', 1)
    assert (recrawled["html"] != pages["html"]).sum() == 2

    res = run_pipeline(spark, spark.createDataFrame(recrawled).repartition(3), cfg)
    io = pl.TableIO(spark, cfg.warehouse)
    batches = pl._partition_values(io, "linked_urls", "batch_fp")
    assert len(batches) == 2 and not any(b.startswith("rebuild_") for b in batches)
    assert len(pl._partition_values(io, "triples_raw", "batch_fp")) == 1

    def boom(*a, **k):
        raise AssertionError("an unchanged page was extracted again")

    monkeypatch.setattr(pl, "fused_extract_parse_abbrev", boom)
    again = run_pipeline(spark, spark.createDataFrame(recrawled).repartition(3), cfg)
    monkeypatch.undo()
    ref = run_pipeline(
        spark, spark.createDataFrame(recrawled).repartition(3),
        PipelineConfig(warehouse=str(tmp_path / "wh_cosmetic_full"), rules_text=RULES_16_TEXT,
                       mode="compat", n_parts=4, n_buckets=8),
    )
    assert _graph(res) == _graph(again) == _graph(ref) == _oracle(res)


def test_readded_then_removed_url_matches_full(spark, tmp_path):
    """A rebuild over a page set an earlier rebuild already covered (a
    url added by a delta, then removed again) gets the same rebuild id;
    the edges must still be rebuilt, not left holding the removed url's
    edges."""
    pages = gen_pages(42)
    base = pages.iloc[:40]
    wh = tmp_path / "wh_readd"
    cfg = _cfg(wh)
    # a rebuild over `base`: index base + one url, then remove it
    run_pipeline(spark, spark.createDataFrame(pages.iloc[:41]).repartition(3), cfg)
    run_pipeline(spark, spark.createDataFrame(base).repartition(3), cfg)
    # a delta adds another url, and the next run removes it again
    plus_q = pages.iloc[[*range(40), 41]]
    run_pipeline(spark, spark.createDataFrame(plus_q).repartition(3), cfg)
    res = run_pipeline(spark, spark.createDataFrame(base).repartition(3), cfg)

    ref = run_pipeline(
        spark, spark.createDataFrame(base).repartition(3), _cfg(tmp_path / "wh_readd_ref")
    )
    assert _graph(res) == _graph(ref) == _oracle(res)


def test_rebuild_back_to_the_covered_layers_rewrites_the_edges(spark, tmp_path, monkeypatch):
    """A delta whose materialize never ran leaves the coverage marker
    listing the earlier rebuild's layer alone; a removal then rebuilds
    to that same rebuild id. The rebuild dropped the edges, and the
    marker with them, so materialize still writes the edges: equal to
    a fresh build and the graph oracle."""
    import kgpipe.pipeline as pl

    pages = gen_pages(42)
    base = pages.iloc[:40]
    wh = tmp_path / "wh_recover"
    cfg = _cfg(wh)
    run_pipeline(spark, spark.createDataFrame(pages.iloc[:41]).repartition(3), cfg)
    run_pipeline(spark, spark.createDataFrame(base).repartition(3), cfg)
    covered = pl._partition_values(pl.TableIO(spark, str(wh)), "triples_raw", "batch_fp")
    monkeypatch.setattr(pl, "_stage_materialize_incremental", lambda *a, **k: None)
    run_pipeline(spark, spark.createDataFrame(pages.iloc[[*range(40), 41]]).repartition(3), cfg)
    monkeypatch.undo()
    res = run_pipeline(spark, spark.createDataFrame(base).repartition(3), cfg)
    io = pl.TableIO(spark, str(wh))
    assert pl._partition_values(io, "triples_raw", "batch_fp") == covered

    ref = run_pipeline(
        spark, spark.createDataFrame(base).repartition(3), _cfg(tmp_path / "wh_recover_ref")
    )
    assert _edges_rewritten(io)
    assert _graph(res) == _graph(ref) == _oracle(res)


def test_extract_config_change_reextracts_every_page(spark, tmp_path):
    """A rerun of the same pages under another extract config must not
    keep the old triples: the recorded extract digest no longer
    matches, every page is re-extracted, and the warehouse equals a
    fresh build under the new config."""
    pages = gen_pages(40)
    wh = tmp_path / "wh_rules"
    run_pipeline(spark, spark.createDataFrame(pages).repartition(3), _cfg(wh))
    # another rule table: half the prefixes no longer abbreviate
    rules = "\n".join(RULES_16_TEXT.strip().splitlines()[::2]) + "\n"
    res = run_pipeline(
        spark, spark.createDataFrame(pages).repartition(3),
        _cfg(wh, rules_text=rules),
    )
    ref = run_pipeline(
        spark, spark.createDataFrame(pages).repartition(3),
        _cfg(tmp_path / "wh_rules_ref", rules_text=rules),
    )

    def triples(r):
        return collections.Counter((t.s, t.p, t.o) for t in r.triples.collect())

    assert triples(res) == triples(ref)
    assert _graph(res) == _graph(ref) == _oracle(res)


def test_normal_form_variants_link_across_batches(spark, tmp_path):
    """URI variants that differ only by scheme, www., a trailing slash
    or %20 link through the norm-hub index even when they arrive in
    different batches: the delta equals a fresh build and the graph
    oracle, whose normal-form groups change the map on this input."""
    import pandas as pd

    base = [
        ["<https://www.nv.example/a> <http://kx-p.example/t> \"a1\" ."],
        ["<http://nv.example/b%20c> <http://kx-p.example/t> \"b1\" ."],
        ["<http://nv.example/z> <http://kx-p.example/t> \"z1\" ."],
    ]
    delta = [
        ["<http://nv.example/a/> <http://kx-p.example/t> \"a2\" ."],
        ["<https://nv.example/b%20c/> <http://kx-p.example/t> \"b2\" ."],
        [f"<http://nv.example/a> {SAMEAS} <http://nv.example/z> ."],
    ]
    p_base = nt_pages(base)
    p_all = pd.concat([p_base, nt_pages(delta, start=10)], ignore_index=True)
    run_pipeline(spark, spark.createDataFrame(p_base), _cfg(tmp_path / "wh_nv"))
    res = run_pipeline(spark, spark.createDataFrame(p_all), _cfg(tmp_path / "wh_nv"))
    ref = run_pipeline(spark, spark.createDataFrame(p_all), _cfg(tmp_path / "wh_nv_ref"))
    assert _graph(res) == _graph(ref) == _oracle(res)
    assert _oracle(res) != _oracle(res, neardup=False)


def test_empty_first_run_finishes_empty(spark, tmp_path):
    """A run over no pages on a fresh warehouse finishes with an empty
    canonical map and edge table (every observed count copes with a
    plan that saw no rows), and the next run over real pages equals a
    fresh build."""
    pages = gen_pages(20)
    wh = tmp_path / "wh_empty"
    empty = run_pipeline(spark, spark.createDataFrame(pages).limit(0), _cfg(wh))
    assert empty.canonical_map.count() == 0 and empty.edges.count() == 0
    res = run_pipeline(spark, spark.createDataFrame(pages).repartition(2), _cfg(wh))
    ref = run_pipeline(
        spark, spark.createDataFrame(pages).repartition(2), _cfg(tmp_path / "wh_empty_ref")
    )
    assert _graph(res) == _graph(ref) == _oracle(res)


# Spark jobs one delta over the fixture may start: 22 since materialize
# lost its dir-level relabel scan (26 before; 37 before the link and
# materialize probes, pins and re-reads were folded into their
# writes). A tripwire, not a speed metric: a later change
# that re-adds a probe, a pin or a re-read trips it and must justify
# raising the number.
DELTA_JOB_BUDGET = 22


def test_delta_job_budget(spark, tmp_path):
    """One delta over the test fixture starts at most DELTA_JOB_BUDGET
    Spark jobs."""
    all_pages = gen_pages(60)
    cfg = _cfg(tmp_path / "wh_jobs")
    run_pipeline(spark, spark.createDataFrame(all_pages.iloc[:50]).repartition(3), cfg)
    pages = spark.createDataFrame(all_pages).repartition(3)
    sc = spark.sparkContext
    sc.setJobGroup("kgpipe-delta-budget", "one delta")
    try:
        run_pipeline(spark, pages, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("kgpipe-delta-budget"))
    assert 0 < n_jobs <= DELTA_JOB_BUDGET, n_jobs


def test_old_bucketed_edge_table_migrates(spark, tmp_path):
    """A warehouse whose edge table still has the layout the old full
    path wrote — Spark's bucketBy(canon_s) with the bucket-spec marker
    beside it, no part_id dirs — and whose link config predates the
    extract digest takes the layout rebuild on its next delta, which
    rewrites the edges into part_id dirs equal to a fresh build."""
    import json

    import kgpipe.pipeline as pl

    all_pages = gen_pages(60)
    wh = tmp_path / "wh_bucketed"
    cfg = _cfg(wh)
    run_pipeline(spark, spark.createDataFrame(all_pages.iloc[:50]).repartition(3), cfg)

    # rewrite the edges the way the old full path wrote them; the
    # materialize state file stays as it is
    io = pl.TableIO(spark, str(wh))
    edges = io.read("edges", pl.EDGES_DDL).localCheckpoint()
    io.drop("edges")
    ident = "kgpipe_old_bucketed_edges"
    try:
        (
            edges.repartition(cfg.n_buckets, F.col("canon_s")).write.mode("overwrite")
            .bucketBy(cfg.n_buckets, "canon_s").sortBy("canon_s")
            .option("path", io.path("edges")).format("parquet").saveAsTable(ident)
        )
    finally:
        spark.sql(f"drop table if exists {ident}")
    (wh / "edges" / "_kgpipe_bucket_spec.json").write_text(json.dumps(
        {"bucket_by": ["canon_s"], "n_buckets": cfg.n_buckets, "sort_by": ["canon_s"]}
    ))
    assert not pl._partition_values(io, "edges", "part_id")
    conf = io.read_json(pl.LINK_CONFIG)
    del conf["extract"]
    io.write_json_atomic(pl.LINK_CONFIG, conf)

    res = run_pipeline(spark, spark.createDataFrame(all_pages).repartition(3), cfg)
    assert _edges_rewritten(io)
    assert not [f for f in (wh / "edges").iterdir() if f.suffix == ".parquet"]
    ref = run_pipeline(
        spark, spark.createDataFrame(all_pages).repartition(3), _cfg(tmp_path / "ref_bucketed")
    )
    assert _graph(res) == _graph(ref) == _oracle(res)


def test_warehouse_of_the_dir_level_relabel_migrates(spark, tmp_path, monkeypatch):
    """A warehouse the retired dir-level relabel left behind — its
    per-batch canon_changes table, a linked layer the edges do not
    cover yet, and a partition patch that died mid-swap (the
    edges__patch.json marker, an edges__patchstage dir holding staged
    rows, one live dir already deleted) — resumes with a rewrite of the
    edge table that equals a fresh build and the graph oracle, and
    leaves none of those paths behind."""
    import json
    import shutil

    import kgpipe.pipeline as pl

    all_pages = gen_pages(60)
    wh = tmp_path / "wh_relabel"
    cfg = _cfg(wh)
    run_pipeline(spark, spark.createDataFrame(all_pages.iloc[:50]).repartition(3), cfg)
    # the delta links, then dies before materialize: one pending batch
    monkeypatch.setattr(pl, "_stage_materialize_incremental", lambda *a, **k: None)
    run_pipeline(spark, spark.createDataFrame(all_pages).repartition(3), cfg)
    monkeypatch.undo()
    io = pl.TableIO(spark, str(wh))
    pending = sorted(_uncovered(io))
    assert len(pending) == 1

    io.write(
        spark.createDataFrame(
            [("http://old.example/c", "http://old.example/a", pending[0])],
            "old_c string, new_c string, batch_fp string",
        ),
        "canon_changes", partition_by=["batch_fp"],
    )
    # the patch died between "delete live dir" and "rename staged dir"
    # for part_id=0, after swapping part_id=1: its staged rows carry a
    # label no build produces
    staged = spark.createDataFrame(
        [("http://stale.example/x", "http://stale.example/p", "http://stale.example/y", 0)],
        pl.EDGES_DDL,
    )
    staged.write.partitionBy("part_id").parquet(io.path("edges__patchstage"))
    shutil.rmtree(wh / "edges" / "part_id=0", ignore_errors=True)
    parts = [{"val": [0], "has_data": True}, {"val": [1], "has_data": True}]
    io.write_json_atomic("edges__patch.json", {"part_cols": ["part_id"], "parts": parts})
    assert json.loads((wh / "edges__patch.json").read_text())["parts"] == parts

    res = run_pipeline(spark, spark.createDataFrame(all_pages).repartition(3), cfg)
    assert _edges_rewritten(io)
    left = sorted(
        f.name for f in wh.iterdir() if "canon_changes" in f.name or "__patch" in f.name
    )
    assert left == [], left
    ref = run_pipeline(
        spark, spark.createDataFrame(all_pages).repartition(3), _cfg(tmp_path / "ref_relabel")
    )
    assert _graph(res) == _graph(ref) == _oracle(res)


def test_layered_edge_warehouse_rewrites_once(spark, tmp_path):
    """A warehouse whose edge table still has the batch-layered layout
    — b_fp= layers with their _kgpipe_layer.json markers, a merge
    stamp in canonical_map, edges_mat_state.json at layout 3 — has no
    coverage marker, so its next run rewrites the edges, even without
    new pages: part_id dirs only, equal to a fresh build and the graph
    oracle. The run after that rewrites nothing."""
    import kgpipe.pipeline as pl

    all_pages = gen_pages(60)
    wh = tmp_path / "wh_layered"
    cfg = _cfg(wh)
    run_pipeline(spark, spark.createDataFrame(all_pages.iloc[:50]).repartition(3), cfg)
    pages = spark.createDataFrame(all_pages).repartition(3)
    run_pipeline(spark, pages, cfg)

    # rewrite the edges the way the layered materialize left them: a
    # b_fp=full layer covering the first batch, and the second batch's
    # own layer, each row in one of them
    io = pl.TableIO(spark, str(wh))
    batches = sorted(pl._partition_values(io, "triples_raw", "batch_fp"))
    assert len(batches) == 2
    edges = io.read("edges", pl.EDGES_DDL).localCheckpoint()
    io.drop("edges")
    layer = F.when(F.col("part_id") % 2 == 0, "full").otherwise(batches[1])
    edges.withColumn("b_fp", layer).write.partitionBy("b_fp", "part_id").parquet(io.path("edges"))
    for name, covered in (("full", batches[0]), (batches[1], batches[1])):
        io.write_json_atomic(f"edges/b_fp={name}/_kgpipe_layer.json", {"batches": [covered]})
    io.write_json_atomic("canonical_map/_kgpipe_merge.json", {"batch": batches[1], "n_changes": 0})
    io.write_json_atomic("edges_mat_state.json", {"n_buckets": cfg.n_buckets, "layout": 3})
    assert len(pl._partition_values(io, "edges", "b_fp")) == 2

    res = run_pipeline(spark, pages, cfg)
    assert _edges_rewritten(io)
    assert not (wh / "edges_mat_state.json").exists()
    ref = run_pipeline(spark, pages, _cfg(tmp_path / "ref_layered"))
    assert _graph(res) == _graph(ref) == _oracle(res)

    files = _edge_files(wh)
    again = run_pipeline(spark, pages, cfg)
    assert _edge_files(wh) == files
    assert _graph(again) == _graph(ref)


def test_cosmetic_recrawl_rewrites_no_edge_file(spark, tmp_path):
    """A re-crawl that changed only a page's markup joins the url index
    but adds no triples_raw layer, so materialize writes nothing:
    every file under the edge dir keeps its name and mtime."""
    import kgpipe.pipeline as pl

    pages = gen_pages(40)
    wh = tmp_path / "wh_cosmetic_pin"
    run_pipeline(spark, spark.createDataFrame(pages).repartition(3), _cfg(wh))
    recrawled = pages.copy()
    recrawled.at[5, "html"] = recrawled.at[5, "html"].replace(b"<html>", b'<html lang="en">', 1)
    assert (recrawled["html"] != pages["html"]).sum() == 1

    files = _edge_files(wh)
    res = run_pipeline(spark, spark.createDataFrame(recrawled).repartition(3), _cfg(wh))
    assert len(pl._partition_values(pl.TableIO(spark, str(wh)), "linked_urls", "batch_fp")) == 2
    assert files and _edge_files(wh) == files
    assert _graph(res) == _oracle(res)


def test_run_explain_shows_the_fused_extract_plan(spark, tmp_path, capsys):
    """`kgpipe run --explain` prints the plan of the operator the
    extract stage runs: the fused extract/parse/abbreviate, one
    MapInPandas and no pandas-UDF evaluation, without running it."""
    from kgpipe.cli import main

    pages = tmp_path / "pages"
    spark.createDataFrame(gen_pages(5)).write.parquet(str(pages))
    wh = tmp_path / "wh_explain"
    rc = main(["run", "--pages", str(pages), "--warehouse", str(wh), "--explain"])
    assert rc == 0
    plan = capsys.readouterr().out
    assert "MapInPandas" in plan
    assert "ArrowEvalPython" not in plan
    assert not wh.exists()


def test_run_cli_builds_the_oracle_graph(spark, tmp_path, capsys):
    """`kgpipe run` on the same 5 pages, with and without --no-neardup,
    exits 0, prints the ledger counters of its three stages, and leaves
    a warehouse whose graph equals the graph oracle under that linker.
    --no-neardup is the only link option `run` takes."""
    import ast

    from kgpipe.cli import main
    from kgpipe.io import TableIO
    from kgpipe.pipeline import CMAP_DDL, EDGES_DDL, RAW_DDL

    pages = tmp_path / "pages"
    spark.createDataFrame(gen_pages(5)).write.parquet(str(pages))
    for flags, neardup in (([], True), (["--no-neardup"], False)):
        wh = tmp_path / f"wh_cli_{neardup}"
        argv = ["run", "--pages", str(pages), "--warehouse", str(wh),
                "--parts", "4", "--buckets", "4", *flags]
        assert main(argv) == 0
        counters = ast.literal_eval(capsys.readouterr().out.strip())["counters"]
        assert set(counters) == {"extract_parse_abbrev", "link_urls", "materialize"}
        io = TableIO(spark, str(wh))
        res = PipelineResult(
            triples=io.read("triples_raw", RAW_DDL).where(F.col("error").isNull()),
            canonical_map=io.read("canonical_map", CMAP_DDL),
            edges=io.read("edges", EDGES_DDL),
        )
        assert _graph(res) == _oracle(res, neardup=neardup)
    with pytest.raises(SystemExit) as help_exit:
        main(["run", "--help"])
    assert help_exit.value.code == 0
    usage = capsys.readouterr().out
    # with no --rules, run uses the 223-rule built-in table
    assert "built-in 223" in " ".join(usage.split())
    assert set(re.findall(r"--[a-z-]+", usage)) == {
        "--help", "--pages", "--warehouse", "--rules", "--mode", "--null", "--parts",
        "--buckets", "--no-neardup", "--incremental-link", "--explain",
    }
