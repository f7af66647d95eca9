"""End-to-end KG-construction pipeline: every run is a delta.

Stages (SURVEY.md §3.4):

  pages ──delta──▶ new urls ──extract/parse/abbrev──▶ triples_raw layer
  layer ──link──▶ sameAs + norm-hub edges ──cc──▶ canonical_map
  triples_raw × canonical_map ──materialize──▶ edges (part_id)

A run first finds its delta: one JVM-only pass joins the pages' (url,
page fingerprint) with the persisted url index. Only never-seen urls
go through the fused extract/parse/abbreviate operator (one Python
stage per task, no barrier), into their own batch_fp= layer of
triples_raw; link and materialize then read that layer alone. A fresh
warehouse is simply the first delta: its index is empty, so every url
is new. A change merges cannot express (a re-crawl whose triples
changed, a removed url, another link or extract config, an old
warehouse layout) rebuilds every table once instead.

Crash safety comes from the write order: each stage writes only its
own batch's layer (dynamic overwrite), swaps a whole table via
TableIO.replace, or rewrites the edges and then their coverage marker;
the link stage writes the url index last, so a killed run re-detects
the same delta and re-runs idempotently. The checkpoint ledger keeps
one row per stage and layer: the run's counters, and the proof that
lets a retry skip a finished extraction.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from kgpipe.checkpoints import CheckpointLog, with_part_id
from kgpipe.io import TableIO
from kgpipe.nt.rules import parse_rules
from kgpipe.operators.fused import fused_extract_parse_abbrev
from kgpipe.operators.link import sameas_edges_from_triples
from kgpipe.operators.materialize import (
    CMAP_BROADCAST_LIMIT,
    canonicalize_triples,
    edges_with_buckets,
)


RAW_DDL = "s string, p string, o string, url string, error string, part_id int"
# triples_raw is laid out by batch_fp: one layer per extracted batch
# of urls (or one rebuild_<id> layer after a rebuild)
RAW_LAYER_DDL = RAW_DDL + ", batch_fp string"
RAW_COLS = ["s", "p", "o", "url", "error", "part_id"]
CMAP_DDL = "uri string, canon_id string"
EDGES_DDL = "canon_s string, p string, canon_o string, part_id int"


@dataclass
class PipelineConfig:
    warehouse: str
    rules_text: str
    mode: str = "lpm"  # or "compat"
    # part_id = pmod(xxhash64(url), n_parts), carried on every
    # triples_raw row
    n_parts: int = 32
    n_buckets: int = 32  # edge part_id dirs
    # predicate as it appears AFTER abbreviation (the fixture RULES
    # have no owl rule, so the full IRI survives)
    sameas_pred: str = "http://www.w3.org/2002/07/owl#sameAs"
    # shortcut treated as the strip-prefix sentinel (ntto -n)
    null_shortcut: str = "<NULL>"
    # link URIs that share a normal form (link.normalize_uri) through
    # the norm_hubs index; off → explicit owl:sameAs links only
    neardup_link: bool = True
    # selects nothing: every run takes the one delta path. Kept only so
    # existing callers that pass it (the --incremental-link flag,
    # perfbench) keep working; one of the NON_OUTPUT_FIELDS.
    incremental_link: bool = False


@dataclass
class PipelineResult:
    triples: DataFrame
    canonical_map: DataFrame
    edges: DataFrame
    counters: dict = field(default_factory=dict)


RUN_MANIFEST = "run_manifest.json"


# PipelineConfig fields that do not change pipeline output: where the
# warehouse lives and a flag that selects nothing. Every other field
# is part of _config_key.
NON_OUTPUT_FIELDS = frozenset({"warehouse", "incremental_link"})


def _digest(obj) -> str:
    """sha256 hex digest of obj's JSON form (keys sorted)."""
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()


def _config_key(cfg: PipelineConfig) -> str:
    """Digest of every config field that changes pipeline OUTPUT — a
    no-op skip must never survive a config change. It covers every
    field outside NON_OUTPUT_FIELDS, so a new field cannot slip past
    the skip."""
    values = dataclasses.asdict(cfg)
    for name in NON_OUTPUT_FIELDS:
        del values[name]
    return _digest(values)


def _source_manifest(pages: DataFrame) -> str | None:
    """File-level identity of the pages source: digest over the sorted
    (path, length, modificationTime) of every input file plus the
    frame's normalized logical plan (so a filter or projection over the
    same files reads as a different source). None when the frame has no
    file inputs (in-memory test frames) or a file vanished — the run
    then finds its delta from the page fingerprints. This is what
    makes a no-op resume METADATA-ONLY: a rerun over unchanged files
    skips every stage without one job over table data (r4 verdict
    "wrong" #2)."""
    import re

    files = pages.inputFiles()
    if not files:
        return None
    sc = pages.sparkSession
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    # one listStatus per PARENT DIRECTORY instead of one getFileStatus
    # py4j round-trip per file: a 64-file table costs 2 JVM calls, not
    # 64 (~0.2s of driver latency inside the timed pipeline region)
    from collections import defaultdict

    by_dir: dict[str, list[str]] = defaultdict(list)
    for f in files:
        d, _, base = f.rpartition("/")
        by_dir[d].append(base)
    stats: dict[str, tuple[int, int]] = {}
    try:
        for d, names in by_dir.items():
            dp = jvm.org.apache.hadoop.fs.Path(d)
            fs = dp.getFileSystem(conf)
            for st in fs.listStatus(dp):
                p = st.getPath()
                stats[f"{d}/{p.getName()}"] = (
                    int(st.getLen()), int(st.getModificationTime())
                )
        ents = []
        for f in sorted(files):
            ln, mt = stats[f]
            ents.append([f, ln, mt])
    except Exception:
        return None
    plan = re.sub(r"#\d+", "#", pages._jdf.queryExecution().logical().toString())
    ents.append(plan)
    return _digest(ents)


def run_pipeline(spark: SparkSession, pages: DataFrame, cfg: PipelineConfig) -> PipelineResult:
    io = TableIO(spark, cfg.warehouse)
    log = CheckpointLog(io)

    _recover_swaps(io)  # before any read of those tables
    manifest = _source_manifest(pages)
    ckey = _config_key(cfg)
    marker = io.read_json(RUN_MANIFEST)
    if (
        manifest is not None
        and marker is not None
        and marker.get("manifest") == manifest
        and marker.get("config") == ckey
        and io.exists("triples_raw") and io.exists("canonical_map") and io.exists("edges")
    ):
        # same files, same config, every output in place: zero jobs
        # over table data (pinned in test_pipeline)
        return PipelineResult(
            triples=io.read("triples_raw", RAW_DDL).where(F.col("error").isNull()),
            canonical_map=io.read("canonical_map", CMAP_DDL),
            edges=io.read("edges", EDGES_DDL),
            counters=log.counter_sums(),
        )

    delta = _stage_extract_parse_abbrev(spark, pages, cfg, io, log, parse_rules(cfg.rules_text))
    n_cmap = _stage_link_incremental(spark, delta, cfg, io, log)
    triples = io.read("triples_raw", RAW_DDL).where(F.col("error").isNull())
    cmap = io.read("canonical_map", CMAP_DDL)
    _stage_materialize_incremental(spark, triples, cmap, cfg, io, log, n_cmap)
    if manifest is not None:
        io.write_json_atomic(RUN_MANIFEST, {"manifest": manifest, "config": ckey})
    return PipelineResult(
        triples=triples, canonical_map=cmap, edges=io.read("edges", EDGES_DDL),
        counters=log.counter_sums(),
    )


NORM_HUBS_DDL = "norm string, hub string, batch_fp string"
# the url index: ufp fingerprints a url's clean triples, pfp its page
# html — pfp is what lets a delta run find new and re-crawled urls
# before extracting anything
LINKED_URLS_DDL = "url string, ufp long, pfp long, batch_fp string"
LINK_CONFIG = "link_config.json"


def _link_config_key(cfg: PipelineConfig) -> str:
    """Digest of the link-config fields the persisted indexes
    (linked_urls, norm_hubs, canonical_map) were built under. Merges
    cannot retract, so a delta run over indexes built under a
    DIFFERENT linker or predicate would silently keep components
    merged under the old config — the run must detect the mismatch
    and route to a full rebuild instead (ADVICE r5). Written alongside
    linked_urls (last, so a crash before it re-detects the mismatch
    and rebuilds again — idempotent)."""
    return _digest({"neardup": cfg.neardup_link, "sameas": cfg.sameas_pred})


def _extract_config_key(cfg: PipelineConfig) -> str:
    """Digest of the fields that decide what a page's triples are. A
    delta run extracts only new urls, so the old pages' triples keep
    the rules they were extracted under; recorded beside the link key,
    a mismatch (or a warehouse without it) re-extracts every page."""
    return _digest({"rules": cfg.rules_text, "mode": cfg.mode, "null": cfg.null_shortcut})


def _url_fingerprints(triples) -> DataFrame:
    """(url, ufp): per-url content fingerprint of the clean triples.
    The xor of row hashes alone cancels rows with even multiplicity
    ([A,A,B] → [B] keeps the same xor), so the row COUNT is folded
    into the final hash."""
    return triples.groupBy("url").agg(
        F.xxhash64(
            F.coalesce(F.bit_xor(F.xxhash64("s", "p", "o")), F.lit(0)),
            F.count(F.lit(1)),
        ).alias("ufp")
    )


# pages through one extract task: a daily delta of a few hundred pages
# is one task writing one triples_raw file. A Python task costs
# ~0.22-0.29 s before its first page, even on a reused worker (pyspark
# runs importlib.invalidate_caches() per task, and on Python 3.11 every
# zipimporter for pyspark.zip's packages then re-reads the archive);
# a page costs ~120 µs of extract kernel (perfbench
# operators.extract.us_per_page) plus the parse and abbreviation of its
# lines. So a task of this many pages spends about as long starting as
# working, and a layer runs in as few waves as it can.
LAYER_PAGES_PER_TASK = 1000
MASK64 = (1 << 64) - 1


def _ufp_or_empty():
    """ufp, or for a url without clean triples (an empty or
    all-malformed page) the _url_fingerprints formula over zero rows."""
    return F.coalesce(
        F.col("ufp"), F.xxhash64(F.lit(0).cast("long"), F.lit(0).cast("long"))
    ).alias("ufp")


def _signed(h: str) -> int:
    """A 16-hex-digit batch id as the signed long the ledger stores."""
    v = int(h[-16:], 16)
    return v - (1 << 64) if v >= (1 << 63) else v


@dataclass
class _Delta:
    """What the extract stage found, for the link stage.

    batch: the triples_raw layer (and url-index batch) of this run's
    new urls, or None when nothing is new. new_urls: their (url, pfp).
    cosmetic: (url, ufp, pfp) of re-crawled urls whose clean triples
    did not change — they join the url index with this batch.
    rebuild: the trigger of a full relink (triples_raw is then already
    one rebuild_id layer), or None. page_fps: (url, pfp) of every
    page, lazily — the rebuild's url index."""

    rebuild_id: str
    page_fps: DataFrame
    batch: str | None = None
    n_new: int = 0
    new_urls: DataFrame | None = None
    cosmetic: DataFrame | None = None
    rebuild: str | None = None


def _recover_swaps(io: TableIO) -> None:
    """Heal a crashed swap of every table a run replaces — filesystem
    metadata only, and a no-op when nothing crashed."""
    for name in ("canonical_map", "triples_raw", "linked_urls"):
        io.recover_replace(name)


def _partition_values(io: TableIO, name: str, col: str) -> list[str]:
    """Values of a table's top-level `col=` partition dirs — pure
    filesystem metadata, no data read."""
    fs, root = io._fs(io.path(name))
    if not fs.exists(root):
        return []
    pre = col + "="
    return [
        st.getPath().getName()[len(pre):]
        for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName().startswith(pre)
    ]


def _page_fingerprints(pages: DataFrame) -> DataFrame:
    """(url, pfp): fingerprint of each url's page html, computed in the
    JVM — finding the delta starts no Python worker."""
    return pages.groupBy("url").agg(
        F.xxhash64(F.bit_xor(F.xxhash64("html")), F.count(F.lit(1))).alias("pfp")
    )


def _extract_pages(pages, urls, cfg, rules, n_pages: int) -> DataFrame:
    """Fused extract/parse/abbreviate of the pages whose url is in
    `urls` (every page when None), in ceil(n_pages /
    LAYER_PAGES_PER_TASK) tasks while those fit one wave of the default
    parallelism — so a small delta is one task and one output file, not
    one per scan split. A bigger layer runs whole waves of tasks of at
    least LAYER_PAGES_PER_TASK pages: the task count rounds DOWN to a
    multiple of the parallelism (6k pages on 4 cores: one wave of 4
    tasks, not 6 tasks that take two waves)."""
    src = pages.select("url", "html")
    if urls is not None:
        src = src.join(F.broadcast(urls), "url", "left_semi")
    k = -(-n_pages // LAYER_PAGES_PER_TASK)
    par = pages.sparkSession.sparkContext.defaultParallelism
    if k > par:
        k -= k % par
    src = src.coalesce(1) if k <= 1 else src.repartition(k)
    return fused_extract_parse_abbrev(
        with_part_id(src, "url", cfg.n_parts), rules, mode=cfg.mode,
        null=cfg.null_shortcut,
    )


def _write_layer(
    rows: DataFrame, batch: str, io: TableIO, keep: DataFrame | None = None,
    replace: bool = False,
) -> tuple[int, int]:
    """Write freshly extracted `rows`, plus already-extracted `keep`
    rows, as the triples_raw layer batch_fp=<batch>: a dynamic
    overwrite of that layer alone, or with `replace` a crash-safe swap
    of the whole table (for kept rows read from the table itself).
    Returns (n_out, n_err) of `rows`, counted by an Observation during
    the write — no stats re-scan."""
    obs = Observation()
    out = rows.select(*RAW_COLS).observe(
        obs,
        F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).alias("n_out"),
        F.sum(F.when(F.col("error").isNull(), 0).otherwise(1)).alias("n_err"),
    )
    if keep is not None:
        out = out.unionByName(keep.select(*RAW_COLS))
    out = out.withColumn("batch_fp", F.lit(batch))
    if replace:
        io.replace(out, "triples_raw", partition_by=["batch_fp"])
    else:
        io.write(out, "triples_raw", mode="overwrite", partition_by=["batch_fp"])
    m = _observed(obs)
    return m["n_out"], m["n_err"]


def _stage_extract_parse_abbrev(spark, pages, cfg, io: TableIO, log: CheckpointLog, rules) -> _Delta:
    """The extract stage: find the delta first, then extract only it.

    One JVM-only job full-joins the pages' (url, page fingerprint) with
    the persisted url index (when there is one) and pins the urls that are new, re-crawled
    or removed — a delta-sized frame; the counts and batch ids come
    from an Observation on that same job. Only the new urls go through
    the Python extractor, into ONE triples_raw layer batch_fp=<b>,
    where b hashes the delta's (url, pfp) — a retry rewrites its own
    layer (dynamic overwrite) or, when the ledger already holds it,
    skips the extraction. Row counts come from an Observation on the
    layer write; the ledger gets one row per layer, n_in = pages
    extracted. On a fresh warehouse the index is empty and every page
    is new.

    Re-crawled urls (page fingerprint changed) are extracted too, but
    only to compare their clean triples with the index: when none
    changed the re-crawl is not a change, and the new page
    fingerprints join the index with this batch. Everything merges
    cannot express routes to one rebuild (_rebuild_triples, then the
    link stage's _incremental_full_rebuild), named by its trigger:
      - layout: triples_raw laid out by part_id or a url index
        without page fingerprints (a warehouse written before the
        layers), or triples extracted under another extract config
        (rules, mode, null shortcut) or none recorded — every page is
        re-extracted once;
      - removed: an indexed url is gone (a possible retraction);
      - recrawl: a re-crawled url's clean triples changed;
      - stale_layer: a layer no url-index batch names, left by a
        crashed run over other input — its links may be in the map;
      - index_gap / cfg_gap: the link indexes are missing or were
        built under another link config."""
    stage = "extract_parse_abbrev"
    page_fps = _page_fingerprints(pages.select("url", "html"))
    linked = io.exists("linked_urls")
    if linked:
        idx = io.read("linked_urls", LINKED_URLS_DDL).groupBy("url").agg(
            F.min("ufp").alias("old_ufp"), F.collect_set("pfp").alias("old_pfps")
        )
        joined = page_fps.join(idx, "url", "full")
    else:
        # no index (a fresh warehouse): every url is new, nothing to join
        joined = page_fps.select(
            "url", "pfp", F.lit(None).cast("long").alias("old_ufp"),
            F.lit(None).cast("array<long>").alias("old_pfps"),
        )
    kind = (
        F.when(F.col("old_pfps").isNull(), "new")
        .when(F.col("pfp").isNull(), "removed")
        .when(F.array_contains("old_pfps", F.col("pfp")), "same")
        .otherwise("changed")
    )
    joined = joined.withColumn("kind", kind)

    def n(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    def batch_hash(cond):
        h = F.bit_xor(F.when(cond, F.xxhash64("url", "pfp")))
        return F.xxhash64(F.coalesce(h, F.lit(0).cast("long")), n(cond))

    moved = F.col("kind").isin("new", "changed")
    paged = F.col("pfp").isNotNull()
    obs = Observation()
    delta = (
        joined.observe(
            obs,
            n(F.col("kind") == "new").alias("new"),
            n(F.col("kind") == "changed").alias("changed"),
            n(F.col("kind") == "removed").alias("removed"),
            n(F.size("old_pfps") == 0).alias("no_pfp"),
            n(paged).alias("pages"),
            batch_hash(moved).alias("batch"),
            batch_hash(paged).alias("all"),
        )
        .where(F.col("kind") != "same")
        .select("url", "pfp", "old_ufp", "kind")
        .localCheckpoint(eager=True)
    )
    st = _observed(obs)
    n_new, n_changed = st["new"], st["changed"]
    batch = "%016x" % (st["batch"] & MASK64)
    # the configs are part of a rebuild's identity: the same pages
    # rebuilt under another config must not look already applied
    ekey = _extract_config_key(cfg)
    rebuild_id = "rebuild_%016x" % (
        (st["all"] ^ int(_link_config_key(cfg)[:16], 16) ^ int(ekey[:16], 16)) & MASK64
    )
    conf = io.read_json(LINK_CONFIG) or {}
    layers = _partition_values(io, "triples_raw", "batch_fp")
    linked_batches = set(_partition_values(io, "linked_urls", "batch_fp"))
    relayout = io.exists("triples_raw") and (
        bool(_partition_values(io, "triples_raw", "part_id"))
        or st["no_pfp"] > 0
        or conf.get("extract") != ekey
    )
    trigger = None
    if relayout:
        trigger = "layout"
    elif st["removed"]:
        trigger = "removed"
    elif any(b not in linked_batches and b != batch for b in layers):
        trigger = "stale_layer"
    elif linked and cfg.neardup_link and not io.exists("norm_hubs"):
        trigger = "index_gap"
    elif linked and conf.get("key") != _link_config_key(cfg):
        trigger = "cfg_gap"

    new_urls = delta.where(F.col("kind") == "new").select("url", "pfp")
    extracted = cosmetic = None
    if trigger is None and n_changed:
        extracted = _extract_pages(
            pages, delta.where(moved).select("url"), cfg, rules, n_new + n_changed
        ).localCheckpoint(eager=True)
        changed = delta.where(F.col("kind") == "changed")
        now = _url_fingerprints(
            extracted.where(F.col("error").isNull()).join(
                F.broadcast(changed.select("url")), "url", "left_semi"
            )
        )
        cmp = changed.join(now, "url", "left").select(
            "url", "pfp", "old_ufp", _ufp_or_empty()
        )
        if cmp.where(F.col("ufp") != F.col("old_ufp")).limit(1).count():
            trigger = "recrawl"
        else:
            cosmetic = cmp.select("url", "ufp", "pfp")

    base = dict(rebuild_id=rebuild_id, page_fps=page_fps)
    if trigger is not None:
        _rebuild_triples(
            pages, delta, extracted, relayout, st, rebuild_id,
            linked_batches, cfg, io, log, rules,
        )
        return _Delta(rebuild=trigger, **base)
    if not n_new:
        # nothing to extract; cosmetic re-crawls still join the index
        return _Delta(batch=batch if cosmetic is not None else None, cosmetic=cosmetic, **base)
    if (0, _signed(batch), n_new) not in log.completed_set(stage) or batch not in layers:
        if extracted is not None:
            rows = extracted.join(F.broadcast(new_urls.select("url")), "url", "left_semi")
        else:
            # every url new (a fresh warehouse): no semi-join to build
            urls = None if n_new == st["pages"] else new_urls.select("url")
            rows = _extract_pages(pages, urls, cfg, rules, n_new)
        log.mark_done_rows(stage, [(0, _signed(batch), n_new, *_write_layer(rows, batch, io))])
    return _Delta(batch=batch, n_new=n_new, new_urls=new_urls, cosmetic=cosmetic, **base)


def _rebuild_triples(
    pages, delta, extracted, relayout, st, rebuild_id, linked_batches,
    cfg, io: TableIO, log: CheckpointLog, rules,
) -> None:
    """triples_raw as ONE layer batch_fp=<rebuild_id>: the rows of
    unchanged urls, kept from the layers the url index names (and from
    this rebuild's own layer, should a crashed attempt have swapped it
    in), plus a fresh extraction of the new and re-crawled pages — of
    every page after a layout change. Removed urls' rows are dropped.
    TableIO.replace, not an overwrite: the kept rows are read from the
    table being replaced."""
    if relayout:
        rows = _extract_pages(pages, None, cfg, rules, st["pages"])
        n_in, keep = st["pages"], None
    else:
        moved = delta.where(F.col("kind").isin("new", "changed")).select("url")
        if extracted is None:
            extracted = _extract_pages(pages, moved, cfg, rules, st["new"] + st["changed"])
        rows, n_in = extracted, st["new"] + st["changed"]
        keep = (
            io.read("triples_raw", RAW_LAYER_DDL)
            .where(F.col("batch_fp").isin(sorted(linked_batches | {rebuild_id})))
            .join(F.broadcast(delta.select("url")), "url", "left_anti")
        )
    counts = _write_layer(rows, rebuild_id, io, keep=keep, replace=True)
    log.mark_done_rows("extract_parse_abbrev", [(0, _signed(rebuild_id), n_in, *counts)])


def _commit_url_index(
    rows: DataFrame, batch: str, cfg, io: TableIO, replace: bool = False
) -> None:
    """Write a batch of the url index — the link stage's commit point,
    written after everything else the batch changes, so a crash before
    it re-detects the same delta and re-runs idempotently — then record
    the link and extract configs the indexes and triples were built
    under. A delta appends its own batch partition; a rebuild replaces
    the index."""
    rows = rows.withColumn("batch_fp", F.lit(batch))
    if replace:
        io.replace(rows, "linked_urls", partition_by=["batch_fp"])
    else:
        io.write(rows, "linked_urls", mode="overwrite", partition_by=["batch_fp"])
    io.write_json_atomic(
        LINK_CONFIG, {"key": _link_config_key(cfg), "extract": _extract_config_key(cfg)}
    )


def _uris(triples: DataFrame) -> DataFrame:
    return (
        triples.select(F.col("s").alias("uri"))
        .union(triples.select(F.col("o").alias("uri")))
        .distinct()
    )


def _stage_link_incremental(spark, delta: _Delta, cfg, io: TableIO, log: CheckpointLog):
    """Delta-only link + canonicalize over the batch layer the extract
    stage wrote (delta.batch) — no scan of the other triples_raw
    layers, no corpus-wide url fingerprints. Returns the non-identity
    row count of the map it wrote, observed during the write (the size
    materialize's broadcast gate needs), or None when it wrote no map.

    Delta path (the daily case): new URIs link against the persisted
    norm→hub index — a URI whose normal form any earlier batch saw
    gets one edge to that form's hub (edge choice only affects
    connectivity, and canon labels come from CC's component min, so
    hub staleness is label-irrelevant); unseen normal forms elect the
    batch's min URI as hub. Components merge via incremental_merge, so
    CC work scales with the delta's neighborhood, not the corpus. The
    batch's normal forms with their URIs and hubs are derived once:
    the delta edges and the new hubs both read them (cached by the
    first).

    Rebuild path: the extract stage already named a trigger (a
    re-crawl that changed clean triples, a removed url, a config or
    layout gap) — merges cannot retract links, so the map and the
    indexes are rebuilt from all current triples
    (_incremental_full_rebuild). Either way the result is pinned EQUAL
    to a fresh build and to a pure-Python graph oracle (test_pipeline).

    Crash safety: canonical_map goes through TableIO.replace (it
    derives from its own previous version); the new hubs land in the
    batch's own `batch_fp=` partition under dynamic overwrite, so a
    retry replaces its own rows; the url index is written LAST, so a
    crashed attempt re-detects its delta and re-runs idempotently — a
    retry after the map swap merges into the already-merged map, which
    changes nothing (test_pipeline kills a delta run after every
    write).
    """
    from kgpipe.operators.cc import _local_frame, incremental_merge
    from kgpipe.operators.link import normalize_uri

    stage = "link_urls"
    if delta.rebuild is not None:
        return _incremental_full_rebuild(spark, delta, cfg, io, log)
    b = delta.batch
    if b is None:
        return None
    if delta.new_urls is None:
        # cosmetic re-crawls only: no triples to link
        _commit_url_index(delta.cosmetic, b, cfg, io)
        return None
    layer = (
        io.read("triples_raw", RAW_LAYER_DDL)
        .where(F.col("batch_fp") == b)
        .where(F.col("error").isNull())
    )

    # no distinct here: the merge dedups the edge set
    delta_edges = (
        layer.where(F.col("p") == cfg.sameas_pred)
        .select(F.col("s").alias("src"), F.col("o").alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    )
    forms = None
    if cfg.neardup_link:
        # the batch's URIs grouped by normal form: one shuffle, and the
        # join with the hub index needs none more on this side
        forms = (
            layer.select(F.explode(F.array("s", "o")).alias("uri"))
            .groupBy(normalize_uri(F.col("uri")).alias("norm"))
            .agg(F.collect_set("uri").alias("uris"))
        )
        if io.exists("norm_hubs"):
            old = io.read("norm_hubs", NORM_HUBS_DDL).select("norm", F.col("hub").alias("old_hub"))
            forms = forms.join(old, "norm", "left")
        else:
            forms = forms.withColumn("old_hub", F.lit(None).cast("string"))
        # a normal form an earlier batch saw keeps that batch's hub; an
        # unseen one elects the batch's min URI. Each URI gets one edge
        # to its form's hub. A retry finds its own hubs already
        # written, so it derives the same edges.
        forms = forms.withColumn("hub", F.coalesce("old_hub", F.array_min("uris"))).persist()
        delta_edges = delta_edges.union(
            forms.select(F.explode("uris").alias("src"), F.col("hub").alias("dst"))
            .where(F.col("src") != F.col("dst"))
        )
    # with the near-dup linker off only explicit sameAs edges link:
    # no norm→hub edges, and no norm_hubs index

    prev = (
        io.read("canonical_map", CMAP_DDL) if io.exists("canonical_map")
        else _local_frame(spark, {"uri": [], "canon_id": []})
    )
    merge = incremental_merge(prev, delta_edges)
    # crash-safe: the merged map derives from the live table, so it
    # must never be overwritten in place (delete-then-write would
    # destroy the retry's input) — replace() swaps via renames
    n_cmap = _replace_map(merge.cmap, io)

    if forms is not None:
        # a batch's new hubs are delta-sized: one file, like its layer
        io.write(
            forms.where(F.col("old_hub").isNull())
            .select("norm", "hub", F.lit(b).alias("batch_fp"))
            .coalesce(1),
            "norm_hubs", mode="overwrite", partition_by=["batch_fp"],
        )
        forms.unpersist()
    # url index LAST: content fingerprints over the batch layer only
    index_rows = delta.new_urls.join(_url_fingerprints(layer), "url", "left").select(
        "url", _ufp_or_empty(), "pfp"
    )
    if delta.cosmetic is not None:
        index_rows = index_rows.unionByName(delta.cosmetic)
    _commit_url_index(index_rows, b, cfg, io)
    log.mark_done_rows(stage, [(0, _signed(b), delta.n_new, merge.n_edges, 0)])
    return n_cmap


def _replace_map(cmap: DataFrame, io: TableIO) -> int:
    """Swap in a new canonical_map (TableIO.replace) and return its
    non-identity row count, observed during the write."""
    obs = Observation()
    io.replace(
        cmap.observe(
            obs, F.sum(F.when(F.col("uri") != F.col("canon_id"), 1).otherwise(0)).alias("n")
        ),
        "canonical_map",
    )
    return _observed(obs)["n"]


def _observed(obs: Observation) -> dict[str, int]:
    """An Observation's counts (null → 0); every count reads 0 when
    the observed plan saw no rows at all. Spark drops an observation
    from a plan it proves empty before running (a read of a table that
    does not exist yet, joined or not), and Observation.get then fails
    instead of reporting zeros."""
    from collections import defaultdict

    from py4j.protocol import Py4JJavaError

    try:
        got = obs.get
    except Py4JJavaError:
        got = {}
    return defaultdict(int, {k: int(v or 0) for k, v in got.items()})


def _incremental_full_rebuild(spark, delta: _Delta, cfg, io: TableIO, log: CheckpointLog):
    """Rebuild fallback of the link stage: merges cannot retract
    links, so rebuild the canonical map, the norm→hub index and the
    url index from ALL current triples (retractions included).
    Subsequent deltas resume incrementally. Hubs cover EVERY normal
    form (singletons too) so future deltas can link against them.
    triples_raw is one layer named delta.rebuild_id here (the extract
    stage rebuilt it), and the url index names that one batch.

    Write order is load-bearing: canonical_map first (replace —
    crash-safe), then hubs, then the url index LAST (replace too). A
    crash before the url index swap leaves the old index in place, so
    the retry detects the same trigger and re-runs the rebuild; a
    crash after it cannot strand a stale map (the map was written
    first)."""
    from kgpipe.operators.cc import _local_frame, incremental_merge
    from kgpipe.operators.link import normalize_uri

    batch_fp = delta.rebuild_id
    triples = io.read("triples_raw", RAW_LAYER_DDL).where(F.col("error").isNull())
    explicit = sameas_edges_from_triples(triples, cfg.sameas_pred)
    if cfg.neardup_link:
        base = (
            _uris(triples)
            .select("uri", normalize_uri(F.col("uri")).alias("norm"))
            .localCheckpoint(eager=True)
        )
        hubs_all = base.groupBy("norm").agg(F.min("uri").alias("hub")).localCheckpoint(
            eager=True
        )
        star = (
            base.join(hubs_all, "norm")
            .where(F.col("uri") != F.col("hub"))
            .select(F.col("uri").alias("src"), F.col("hub").alias("dst"))
        )
        edges = explicit.union(star)
    else:
        hubs_all = None
        edges = explicit
    # a merge into an empty map: one map row per edge endpoint
    merge = incremental_merge(_local_frame(spark, {"uri": [], "canon_id": []}), edges)
    n_cmap = _replace_map(merge.cmap, io)
    io.drop("norm_hubs")
    if hubs_all is not None:
        io.write(
            hubs_all.withColumn("batch_fp", F.lit(batch_fp)),
            "norm_hubs", mode="overwrite", partition_by=["batch_fp"],
        )
    # a rebuild invalidates the edges: a rebuild over a page set an
    # earlier rebuild covered gets that rebuild's id, which the edge
    # coverage marker may already list — the marker goes with the edge
    # dir, so materialize rewrites them. delta_triples and term_maps
    # are handoff tables that warehouses written before the
    # triples_raw layers still carry.
    for name in ("edges", "delta_triples", "term_maps"):
        io.drop(name)
    # every page is indexed — pages without clean triples too, or the
    # next delta would see them as new again
    cur_urls = delta.page_fps.join(_url_fingerprints(triples), "url", "left").select(
        "url", _ufp_or_empty(), "pfp",
    )
    uobs = Observation()
    _commit_url_index(
        cur_urls.observe(uobs, F.count(F.lit(1)).alias("n")), batch_fp, cfg, io,
        replace=True,
    )
    log.mark_done_rows(
        "link_urls", [(0, _signed(batch_fp), _observed(uobs)["n"], merge.n_edges, 0)]
    )
    return n_cmap


# the edge table's coverage marker: the triples_raw layers, bucket
# count and layout the edges were written from. It lives INSIDE the
# edge dir (leading underscore: invisible to parquet listings), so every
# drop of the edges drops it too.
MAT_STATE = "edges/_kgpipe_coverage.json"
MAT_LAYOUT_VERSION = 4  # part_id dirs + one coverage marker


def _one_wave(spark, n_dirs: int) -> int:
    """Tasks for an edge-table write of n_dirs partition dirs: one
    wave. Rows are hashed on their dir columns, so a dir still lands
    in one task and one file, while a task writes several dirs; one
    task per dir paid a task's fixed cost per dir (35.8k rows into 32
    dirs on 4 cores: 0.94 s at 32 tasks, 0.46 s at 4)."""
    return max(1, min(n_dirs, spark.sparkContext.defaultParallelism))


def _stage_materialize_incremental(
    spark, triples, cmap, cfg, io: TableIO, log: CheckpointLog, n_cmap: int | None = None
):
    """Edge materialization by one rule: the edge table is current when
    its coverage marker lists exactly the current triples_raw layers
    under this n_buckets and layout; in every other case it is
    rewritten from triples_raw ⋈ canonical_map into part_id dirs,
    part_id = pmod(xxhash64(canon_s), n_buckets).

    A new layer, a rebuild (which drops the edges, marker included), a
    crashed earlier rewrite (no marker), another n_buckets or an older
    layout all rewrite; a run that adds no layer (a no-op rerun, a
    cosmetic re-crawl) writes nothing. The rewrite broadcasts the map
    only while it fits CMAP_BROADCAST_LIMIT, sized by the count the
    link stage observed as it wrote the map (n_cmap), else by an
    early-stopping probe. It runs one wave of tasks: a dir's rows hash
    to one task, so each dir is still one file. The marker is written
    LAST, so a crash before it leaves the edges to be rewritten."""
    layers = sorted(_partition_values(io, "triples_raw", "batch_fp"))
    cover = {"layers": layers, "n_buckets": cfg.n_buckets, "layout": MAT_LAYOUT_VERSION}
    if io.read_json(MAT_STATE) == cover:
        return
    if n_cmap is None:
        n_cmap = (
            cmap.where(F.col("uri") != F.col("canon_id"))
            .limit(CMAP_BROADCAST_LIMIT + 1)
            .count()
        )
    obs = Observation()
    out = edges_with_buckets(
        canonicalize_triples(triples, cmap, broadcast_map=n_cmap <= CMAP_BROADCAST_LIMIT),
        cfg.n_buckets,
    ).observe(obs, F.count(F.lit(1)).alias("n"))
    # nothing of an older layout may outlive a rewrite: its layers and
    # state file, nor what the retired dir-level relabel left (its
    # label-change table and a half-swapped partition patch)
    for name in (
        "edges", "edges_mat_state.json", "edges__patch.json", "edges__patchstage",
        "canon_changes",
    ):
        io.drop(name)
    io.write(
        out.repartition(_one_wave(spark, cfg.n_buckets), F.col("part_id")),
        "edges", mode="overwrite", partition_by=["part_id"],
    )
    io.write_json_atomic(MAT_STATE, cover)
    log.mark_done_rows("materialize", [(0, 0, len(layers), _observed(obs)["n"], 0)])


# perfbench span hooks: its tracer wraps stages by module attribute,
# and these two names stay bound so a trace of the one path reports
# their spans as 0, like any layer a workload never enters
_stage_link_canonicalize = _stage_link_incremental
_stage_materialize = _stage_materialize_incremental
