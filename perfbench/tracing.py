"""Spans around kgpipe's layer functions, and per-span Spark metrics
from the event log.

Nothing in kgpipe changes: ``install`` swaps each wrapped function's
module attribute for a timing wrapper, which records (name, start,
end, depth) on the driver and names the Spark jobs submitted inside it
after the span with ``sc.setJobDescription``. After the session stops,
``span_metrics`` joins the spans with the uncompressed event log.

Spark is lazy, so work lands in the span that forces it, and Spark
renames some of its own jobs ("Listing leaf files ..."). Jobs are
therefore attributed by time, not by description: a job belongs to the
innermost span whose interval holds its submission time, and a span's
job metrics cover the jobs of its whole subtree.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import statistics
import time

# span name -> (module, attribute). cc.incremental_canonical_map wraps
# incremental_merge: the pipeline calls it directly, and
# incremental_canonical_map is a one-line delegate to it.
SPANS = {
    "session.get_spark": ("kgpipe.session", "get_spark"),
    "pipeline.run": ("kgpipe.pipeline", "run_pipeline"),
    "pipeline.extract_parse_abbrev": ("kgpipe.pipeline", "_stage_extract_parse_abbrev"),
    "pipeline.link_canonicalize": ("kgpipe.pipeline", "_stage_link_canonicalize"),
    "pipeline.link_incremental": ("kgpipe.pipeline", "_stage_link_incremental"),
    "pipeline.materialize": ("kgpipe.pipeline", "_stage_materialize"),
    "pipeline.materialize_incremental": ("kgpipe.pipeline", "_stage_materialize_incremental"),
    "cc.connected_components": ("kgpipe.operators.cc", "connected_components"),
    "cc.incremental_canonical_map": ("kgpipe.operators.cc", "incremental_merge"),
    "convert.convert_nt_lines": ("kgpipe.convert", "convert_nt_lines"),
    "sinks.write_ldj": ("kgpipe.operators.sinks", "write_ldj"),
}
SPAN_METRICS = (
    "wall_s", "self_s", "jobs", "task_busy_s", "driver_gap_s",
    "shuffle_write_mb", "spill_mb", "task_skew", "failed_tasks",
)
MB = 1e6


def _now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """Records spans on the driver's main thread; owns the wrappers it
    installs and removes them on ``uninstall``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []  # name, start, end (epoch ms), depth
        self._stack: list[str] = []
        self._saved: list[tuple[object, str, object]] = []

    def install(self) -> None:
        for name, (mod_name, attr) in SPANS.items():
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(name, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()

    def _describe(self, name: str | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setJobDescription(name)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            depth = len(self._stack)
            self._stack.append(name)
            self._describe(name)
            start = _now_ms()
            try:
                return fn(*args, **kwargs)
            finally:
                end = _now_ms()
                self._stack.pop()
                self._describe(self._stack[-1] if self._stack else None)
                self.spans.append({"name": name, "start": start, "end": end, "depth": depth})

        return traced


def read_event_log(event_dir: str) -> tuple[list[dict], dict[int, list[dict]]]:
    """(jobs, tasks by stage id) from the one application's
    uncompressed event log in `event_dir`: a single file, or (Spark 4's
    rolling layout) a directory of events_<n>_* files. A job is {id,
    submit, end, stages}; a task is {launch, finish, failed,
    shuffle_write, spill}."""
    rolled = glob.glob(os.path.join(event_dir, "*", "events_*"))
    logs = sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1])) or [
        p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)
    ]
    if not logs or (not rolled and len(logs) != 1):
        raise RuntimeError(f"expected one event log in {event_dir}, found {len(logs)} files")
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for ev in _events(logs):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"], "submit": float(ev["Submission Time"]),
                "end": None, "stages": set(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = float(ev["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            tasks.setdefault(ev["Stage ID"], []).append({
                "launch": float(info["Launch Time"]),
                "finish": float(info["Finish Time"]),
                "failed": bool(info.get("Failed")) or bool(info.get("Killed")),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
            })
    for j in jobs.values():
        if j["end"] is None:  # never ended before the session stopped
            j["end"] = j["submit"]
    return sorted(jobs.values(), key=lambda j: j["submit"]), tasks


def _events(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                yield json.loads(line)


def _covered(a: float, b: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [a, b] covered by the union of `intervals` (sorted)."""
    total, cur = 0.0, a
    for s, e in intervals:
        s, e = max(s, cur), min(e, b)
        if e > s:
            total += e - s
            cur = e
    return total


def _tasks_of_jobs(jobs: list[dict], tasks: dict[int, list[dict]]) -> dict[int, list[dict]]:
    """Tasks per job. A stage listed by several jobs (a reused shuffle)
    ran in the latest job submitted before its first task launched."""
    owner: dict[int, int] = {}
    for sid, ts in tasks.items():
        first = min(t["launch"] for t in ts)
        cands = [j for j in jobs if sid in j["stages"] and j["submit"] <= first + 1]
        if cands:
            owner[sid] = max(cands, key=lambda j: j["submit"])["id"]
    out: dict[int, list[dict]] = {j["id"]: [] for j in jobs}
    for sid, jid in owner.items():
        out[jid].extend(tasks[sid])
    return out


def span_metrics(spans: list[dict], jobs: list[dict], tasks: dict[int, list[dict]]) -> dict:
    """`<span>.<metric>` for every name in SPANS (zeros for spans the
    workload never entered)."""
    job_tasks = _tasks_of_jobs(jobs, tasks)
    job_iv = sorted((j["submit"], j["end"]) for j in jobs)
    ordered = sorted(spans, key=lambda s: (s["start"], s["depth"]))

    # innermost span holding each job's submission; a span's jobs are
    # those of its whole subtree (descendants lie inside its interval)
    inner: dict[int, int] = {}
    for j in jobs:
        best = None
        for k, s in enumerate(ordered):
            if s["start"] <= j["submit"] <= s["end"] and (
                best is None or s["depth"] > ordered[best]["depth"]
            ):
                best = k
        if best is not None:
            inner[j["id"]] = best

    out = {f"{n}.{m}": 0.0 for n in SPANS for m in SPAN_METRICS}
    durations: dict[str, list[float]] = {n: [] for n in SPANS}
    for k, s in enumerate(ordered):
        wall = s["end"] - s["start"]
        kids = sorted(
            (c["start"], c["end"]) for c in ordered
            if c["depth"] == s["depth"] + 1 and s["start"] <= c["start"] and c["end"] <= s["end"]
        )
        p = s["name"] + "."
        out[p + "wall_s"] += wall / 1000.0
        out[p + "self_s"] += (wall - _covered(s["start"], s["end"], kids)) / 1000.0
        out[p + "driver_gap_s"] += (wall - _covered(s["start"], s["end"], job_iv)) / 1000.0
        for jid, owner in inner.items():
            o = ordered[owner]
            if o["depth"] < s["depth"] or not (s["start"] <= o["start"] and o["end"] <= s["end"]):
                continue
            out[p + "jobs"] += 1
            for t in job_tasks[jid]:
                out[p + "task_busy_s"] += (t["finish"] - t["launch"]) / 1000.0
                out[p + "shuffle_write_mb"] += t["shuffle_write"] / MB
                out[p + "spill_mb"] += t["spill"] / MB
                out[p + "failed_tasks"] += int(t["failed"])
                durations[s["name"]].append(t["finish"] - t["launch"])
    for n, ds in durations.items():
        med = statistics.median(ds) if ds else 0.0
        out[f"{n}.task_skew"] = max(ds) / med if med > 0 else 0.0
    for n in SPANS:
        out[f"{n}.jobs"] = int(out[f"{n}.jobs"])
        out[f"{n}.failed_tasks"] = int(out[f"{n}.failed_tasks"])
    return out
