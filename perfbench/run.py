"""kgpipe benchmark: cold-launch KG build, daily delta and NT convert.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Each timed launch is a fresh process
with a fresh Spark session on local[<cores>] making ONE call into
kgpipe's public entry point (see child.py); launches repeat until
--seconds of entry-point wall time are measured, and medians are
reported. Inputs are generated from --seed (gen.py); every launch's
output is checked against the reference perl pipeline (truth.py)
outside the timed region.

--trace 0 prints the end-to-end metrics; --trace 1 makes one untraced
and one traced launch and prints the per-layer metrics (tracing.py),
the kernel costs and the tracing overhead (traced minus untraced wall_s
of that one pair, so it carries their launch-to-launch noise). The last
line of stdout is the JSON result. See README.md for the metrics and the workloads.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import gen  # noqa: E402  (needs the path set above)

RUN_BUDGET_S = 170.0  # every launch must finish inside one run's 180 s
KERNEL_BATCH = 2000
WORK = os.path.join(ROOT, ".perfbench_work")
# kg_delta's base corpus is the same for every --seed (only the delta
# pages follow the seed), so its warehouse is built once per checkout
# and program version and then restored from a cache; see base_warehouse
BASE_SEED = 0

# sizes: cold-launch cost dominates at these sizes on a 4-core box,
# which is what a spark-submit launch pays; see README.md
WORKLOADS = {
    "kg_build": {"pages": 6000, "n_parts": 64, "n_buckets": 32},
    "kg_delta": {"pages": 3000, "delta_pages": 150, "n_parts": 64, "n_buckets": 32},
    "nt_convert": {"lines": 300_000},
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """One benchmark run: a private work directory inside the checkout
    and the child launches made in it."""

    def __init__(self, workload: str, seed: int, trace: bool) -> None:
        self.size = WORKLOADS[workload]
        self.seed = seed
        self.trace = trace
        self.deadline = time.monotonic() + RUN_BUDGET_S
        self.work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(self.work, d))
        self.n_launch = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def launch(self, spec: dict, traced: bool = False) -> dict:
        """Run child.py on `spec` in a fresh process; returns its result
        plus `spawn_to_session_s` (process start to session ready)."""
        self.n_launch += 1
        tag = f"launch{self.n_launch}"
        env = dict(os.environ)
        env.pop("SPARK_GRAFT_EVENTLOG", None)
        env["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        env["TMPDIR"] = self.path("tmp")
        # every JVM of the launch (spark-submit's launcher too) keeps its
        # temporary files in the run directory
        env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
        if traced:
            env["SPARK_GRAFT_EVENTLOG"] = self.path(tag + "-events")
        spec = {**spec, "trace": traced, "cores": cores(), "result": self.path(tag + ".json")}
        with open(self.path(tag + "-spec.json"), "w", encoding="utf-8") as f:
            json.dump(spec, f)
        log_path = self.path(tag + ".log")
        spawned = time.time()
        with open(log_path, "wb") as log:
            p = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "child.py"), self.path(tag + "-spec.json")],
                cwd=self.work, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                p.wait(timeout=max(self.deadline - time.monotonic(), 1.0))
            except subprocess.TimeoutExpired:
                _kill_group(p.pid)
                p.wait()
                raise RuntimeError(f"{tag} ({spec['mode']}) ran out of the run's time budget")
            finally:
                _kill_group(p.pid)
        ended = time.time()
        if p.returncode != 0:
            with open(log_path, encoding="utf-8", errors="replace") as f:
                tail = f.read()[-3000:]
            raise RuntimeError(f"{tag} ({spec['mode']}) exited {p.returncode}:\n{tail}")
        with open(spec["result"], encoding="utf-8") as f:
            res = json.load(f)
        res["spawn_to_session_s"] = res["session_ready"] - spawned
        print(f"{tag} {spec['mode']}{' traced' if traced else ''}: session "
              f"{res['spawn_to_session_s']:.1f}s, call {res['wall_s']:.1f}s, "
              f"stop to exit {ended - res['stopped']:.1f}s, process {ended - spawned:.1f}s",
              file=sys.stderr)
        return res

    def close(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def _kill_group(pgid: int) -> None:
    """Stop anything a launch left behind (Python workers, the JVM)."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def launch_counts(out_dir: str, since: float) -> dict:
    """What one launch wrote under `out_dir`: its extract-stage ledger
    rows (zeros where there is no ledger) and its data files."""
    import pyarrow.dataset as ds

    ledger = os.path.join(out_dir, "checkpoints")
    rows = []
    if os.path.isdir(ledger):
        rows = [
            r for r in ds.dataset(ledger, format="parquet").to_table().to_pylist()
            if r["stage"] == "extract_parse_abbrev" and r["ts"] >= since
        ]
    files = sum(
        1 for dirpath, _dirs, names in os.walk(out_dir) for name in names
        if name.startswith("part-") and os.path.getmtime(os.path.join(dirpath, name)) >= since
    )
    p = "pipeline.extract_parse_abbrev."
    return {
        p + "rows_in": sum(r["n_in"] for r in rows),
        p + "rows_out": sum(r["n_out"] for r in rows),
        p + "rows_quarantined": sum(r["n_err"] for r in rows),
        p + "parts_recomputed": len(rows),
        "io.files_written": files,
    }


def kernel_costs(html: list[bytes], lines: list[str], rules) -> dict:
    """Single-threaded µs per row of the three Python kernels on one
    batch of the workload's own inputs (median of 5 passes)."""
    import pandas as pd

    from kgpipe.nt.parser import parse_nt_frame
    from kgpipe.nt.rules import PrefixRewriter
    from kgpipe.operators.extract import extract_text_frame

    html_s = pd.Series(html[:KERNEL_BATCH], dtype="object")
    lines_s = pd.Series(lines[:KERNEL_BATCH], dtype="object")
    rw = PrefixRewriter(rules, mode="compat")

    def us_per_row(fn, batch) -> float:
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn(batch)
            times.append(time.perf_counter() - t0)
        return statistics.median(times) / len(batch) * 1e6

    return {
        "operators.extract.us_per_page": us_per_row(extract_text_frame, html_s),
        "nt.rules.us_per_line": us_per_row(rw.rewrite_series, lines_s),
        "nt.parser.us_per_line": us_per_row(parse_nt_frame, lines_s),
    }


# -- workloads --------------------------------------------------------
# Each stages its inputs and ground truth, then measures with
# `rep(traced)`, which makes one checked launch. It returns the launch
# results (setup_s, wall_s, triples, problems, and layers when traced)
# and the traced launch, if any.


def _measure(run: Run, seconds: float, rep) -> tuple[list, dict | None]:
    """Untraced launches until `seconds` of wall time are measured (at
    least one); with --trace, one untraced and one traced launch."""
    if run.trace:
        plain = rep(False)
        traced = rep(True)
        return [plain, traced], traced
    out = []
    while not out or sum(r["wall_s"] for r in out) < seconds:
        out.append(rep(False))
    return out, None


def kg_build(run: Run, seconds: float) -> dict:
    import truth
    from kgpipe.fixtures import RULES_16_TEXT, OWL_SAMEAS
    from kgpipe.nt.rules import parse_rules

    n = run.size["pages"]
    t0 = time.perf_counter()
    pages = run.path("pages.parquet")
    gen.write_pages(pages, run.seed, 0, n)
    staging_s = time.perf_counter() - t0

    rules = parse_rules(RULES_16_TEXT)
    lines = [ln for i in range(n) for ln in gen.page_text_lines(run.seed, i)]
    expected = truth.perl_triples(lines, rules, run.path("tmp"), cores())

    def rep(traced: bool) -> dict:
        wh = run.path(f"wh{run.n_launch + 1}")
        res = run.launch({"mode": "pipeline", "pages": [pages], "warehouse": wh,
                          "incremental": False, "n_parts": run.size["n_parts"],
                          "n_buckets": run.size["n_buckets"]}, traced)
        res["problems"] = truth.check_warehouse(wh, expected, OWL_SAMEAS)
        res["triples"] = expected.n
        res["setup_s"] = staging_s + res["spawn_to_session_s"]
        if traced:
            res["layers"].update(launch_counts(wh, res["call_start"]))
        return res

    launches, traced = _measure(run, seconds, rep)
    if traced is not None:
        _add_kernels(traced, run, lines, rules, "pipeline.extract_parse_abbrev")
    return {"launches": launches, "traced": traced}


def _sources_digest(size: dict) -> str:
    """What a cached base warehouse depends on: the sizes and every
    Python source of the program and of this benchmark."""
    h = hashlib.sha256(json.dumps(size, sort_keys=True).encode())
    for top in (os.path.join(ROOT, "kgpipe"), HERE):
        for dirpath, dirs, names in os.walk(top):
            dirs.sort()
            for name in sorted(names):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def base_warehouse(run: Run) -> tuple[str, str, float]:
    """(pages, warehouse, build_s) of kg_delta's base: built by a fresh
    launch of run_pipeline(incremental_link=True) the first time a
    checkout and program version need it, then reused. build_s is the
    staging, session start and build time when this run built it, else
    0."""
    cache = os.path.join(WORK, "cache", "kg_delta-" + _sources_digest(run.size))
    pages, wh = os.path.join(cache, "pages_base.parquet"), os.path.join(cache, "base_wh")
    if os.path.isdir(cache):
        return pages, wh, 0.0
    tmp = run.path("base")
    os.makedirs(tmp)
    t0 = time.perf_counter()
    gen.write_pages(os.path.join(tmp, "pages_base.parquet"), BASE_SEED, 0, run.size["pages"])
    staging_s = time.perf_counter() - t0
    res = run.launch({"mode": "pipeline", "pages": [os.path.join(tmp, "pages_base.parquet")],
                      "warehouse": os.path.join(tmp, "base_wh"), "incremental": True,
                      "n_parts": run.size["n_parts"], "n_buckets": run.size["n_buckets"]})
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    try:
        os.rename(tmp, cache)
    except OSError:  # another run published the same base first
        pass
    return pages, wh, staging_s + res["spawn_to_session_s"] + res["wall_s"]


def kg_delta(run: Run, seconds: float) -> dict:
    import truth
    from kgpipe.fixtures import RULES_16_TEXT, OWL_SAMEAS
    from kgpipe.nt.rules import parse_rules

    n, nd = run.size["pages"], run.size["delta_pages"]
    base_pages, base_wh, base_s = base_warehouse(run)
    t0 = time.perf_counter()
    delta_pages = run.path("pages_delta.parquet")
    gen.write_pages(delta_pages, run.seed, n, n + nd)
    staging_s = time.perf_counter() - t0

    rules = parse_rules(RULES_16_TEXT)
    delta_lines = [ln for i in range(n, n + nd) for ln in gen.page_text_lines(run.seed, i)]
    lines = [ln for i in range(n) for ln in gen.page_text_lines(BASE_SEED, i)] + delta_lines
    expected = truth.perl_triples(lines, rules, run.path("tmp"), cores())
    delta_triples = truth.perl_triples(delta_lines, rules, run.path("tmp"), cores()).n
    ref_wh = run.path("reference_wh")

    def rep(traced: bool) -> dict:
        wh = run.path(f"wh{run.n_launch + 1}")
        t0 = time.perf_counter()
        shutil.copytree(base_wh, wh)  # restore the base (mtimes kept)
        restore_s = time.perf_counter() - t0
        spec = {"mode": "pipeline", "pages": [base_pages, delta_pages], "warehouse": wh,
                "incremental": True, "n_parts": run.size["n_parts"],
                "n_buckets": run.size["n_buckets"]}
        if not os.path.isdir(ref_wh):  # the first launch also builds the reference
            spec.update(reference=ref_wh, reference_pages=[base_pages, delta_pages])
        res = run.launch(spec, traced)
        res["problems"] = (
            truth.check_warehouse(ref_wh, expected, OWL_SAMEAS)
            + truth.check_warehouse(wh, expected, OWL_SAMEAS)
            + truth.check_same_graph(wh, ref_wh)
        )
        res["triples"] = delta_triples
        res["setup_s"] = staging_s + base_s + restore_s + res["spawn_to_session_s"]
        if traced:
            res["layers"].update(launch_counts(wh, res["call_start"]))
        return res

    launches, traced = _measure(run, seconds, rep)
    if traced is not None:
        _add_kernels(traced, run, lines, rules, "pipeline.extract_parse_abbrev")
    return {"launches": launches, "traced": traced}


def nt_convert(run: Run, seconds: float) -> dict:
    import truth
    from kgpipe.nt.default_rules import DEFAULT_RULES_TEXT
    from kgpipe.nt.rules import parse_rules

    rules = parse_rules(DEFAULT_RULES_TEXT)
    t0 = time.perf_counter()
    src = run.path("lines.nt")
    lines = gen.write_nt_lines(src, run.seed, [r.prefix for r in rules], run.size["lines"])
    staging_s = time.perf_counter() - t0
    expected = truth.perl_triples(lines, rules, run.path("tmp"), cores())

    def rep(traced: bool) -> dict:
        out = run.path(f"ldj{run.n_launch + 1}")
        res = run.launch({"mode": "convert", "lines": src, "out": out}, traced)
        got = truth.ldj_triples(out)
        res["problems"] = [] if got == expected else [f"LDJ rows {got} != reference {expected}"]
        res["triples"] = got.n
        res["setup_s"] = staging_s + res["spawn_to_session_s"]
        if traced:
            res["layers"].update(launch_counts(out, res["call_start"]))
        return res

    launches, traced = _measure(run, seconds, rep)
    if traced is not None:
        _add_kernels(traced, run, lines, rules, "sinks.write_ldj")
    return {"launches": launches, "traced": traced}


RUNNERS = {"kg_build": kg_build, "kg_delta": kg_delta, "nt_convert": nt_convert}


def _add_kernels(traced: dict, run: Run, lines: list[str], rules, stage_span: str) -> None:
    """Kernel µs on the workload's own batches, and the share of the
    task time of the span that runs the kernels (`stage_span`) that the
    kernels account for, over the rows that span processed."""
    html = [gen.page_html(run.seed, i) for i in range(KERNEL_BATCH)]
    k = kernel_costs(html, lines, rules)
    layers = traced["layers"]
    layers.update(k)
    p = "pipeline.extract_parse_abbrev."
    if layers[p + "rows_in"]:  # pages through the extract stage
        pages, n_lines = layers[p + "rows_in"], layers[p + "rows_out"] + layers[p + "rows_quarantined"]
    else:  # N-Triples lines straight into parse + rewrite
        pages, n_lines = 0, len(lines)
    kernel_s = (
        k["operators.extract.us_per_page"] * pages
        + (k["nt.rules.us_per_line"] + k["nt.parser.us_per_line"]) * n_lines
    ) / 1e6
    busy = layers[stage_span + ".task_busy_s"]
    layers["extract.kernel_share"] = kernel_s / busy if busy > 0 else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import kgpipe  # noqa: F401  (fail fast, before any work, without the program)

    run = Run(args.workload, args.seed, bool(args.trace))
    try:
        out = RUNNERS[args.workload](run, args.seconds)
    finally:
        run.close()

    launches = out["launches"]
    failed = sum(1 for r in launches if r["problems"])
    for r in launches:
        for prob in r["problems"]:
            print(f"check failed: {prob}", file=sys.stderr)
    if run.trace:
        plain, traced = launches
        layers = dict(traced["layers"])
        layers["trace.overhead_s"] = traced["wall_s"] - plain["wall_s"]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
    else:
        wall = statistics.median(r["wall_s"] for r in launches)
        metrics = {
            "setup_s": {"value": statistics.median(r["setup_s"] for r in launches), "unit": "s"},
            "wall_s": {"value": wall, "unit": "s"},
            "triples_per_s": {
                "value": statistics.median(r["triples"] / r["wall_s"] for r in launches),
                "unit": "1/s",
            },
        }
    print(json.dumps({"correct": failed == 0, "attempted": len(launches), "failed": failed,
                      "metrics": metrics}))
    return 0


def unit_of(name: str) -> str:
    for suffixes, unit in ((("_s",), "s"), (("_mb",), "MB"), (("us_per_page", "us_per_line"), "us"),
                           (("task_skew", "kernel_share"), "ratio")):
        if name.endswith(suffixes):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
