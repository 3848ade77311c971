"""Per-layer tracing from outside the program.

A span wraps one call into a layer's public functions.  Each span runs its
Spark jobs under its own job group, so ``statusTracker`` gives the layer's
jobs and stages, and the Spark event log of the run gives task CPU, shuffle
bytes and job timing.  Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

# Layer names are the program's module names.  Every traced run reports
# every layer, whichever workload it belongs to (see README.md).
LAYERS = [
    "kb_tsv.load", "mentions", "lineage", "linking.alias", "linking",
    "canonicalize", "graph", "io.write",
    "webcure.url_dedup", "webcure.line_dedup", "textstats.gopher",
    "dedup.pairs", "dedup.clusters", "dedup.decontaminate", "sampling",
]
HEAVY = ["mentions", "linking", "canonicalize", "graph",
         "webcure.line_dedup", "dedup.pairs", "dedup.clusters"]
COUNTERS = [("wall_s", "s"), ("jobs", "count"), ("stages", "count"), ("rows_out", "rows")]
EXTRAS = [("cpu_s", "s"), ("shuffle_bytes", "bytes"), ("driver_gap_s", "s")]
OTHER = [
    ("lineage.overhead_s", "s"),
    ("session.materialize.spill_bytes", "bytes"),
    ("session.peak_rss_mb", "MB"),
    ("io.write.bytes", "bytes"),
    ("linking.link_rate", "ratio"),
    ("linking.cands_per_mention", "ratio"),
    ("trace.job_s", "s"),
    ("trace.jobs_total", "count"),
    ("trace.layer_failures", "count"),
]


def metric_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out = {}
    for layer in LAYERS:
        for key, unit in COUNTERS:
            out[f"{layer}.{key}"] = unit
        if layer in HEAVY:
            for key, unit in EXTRAS:
                out[f"{layer}.{key}"] = unit
    out.update(dict(OTHER))
    return out


def error_class(exc: BaseException) -> str:
    """Spark's error condition (e.g. DIVIDE_BY_ZERO), else the class name."""
    get = getattr(exc, "getCondition", None) or getattr(exc, "getErrorClass", None)
    try:
        cls = get() if get else None
    except Exception:  # noqa: BLE001 - the error object itself is broken
        cls = None
    return cls or type(exc).__name__


class Tracer:
    """Spans (name, start, end, parent, run id) plus per-span Spark counts."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        group = f"{self.run_id}:{name}"
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(group, name)
        rec = {"name": name, "parent": parent, "run_id": self.run_id,
               "group": group, "rows_out": 0}
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setJobGroup(f"{self.run_id}:untraced", "untraced")
            self.spans.append(rec)

    def collect_counts(self) -> None:
        """Jobs and stages per span from ``statusTracker``, read once the
        traced calls are done, so a job a layer submitted asynchronously
        and that started after its call returned still counts for it."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = sorted(st.getJobIdsForGroup(rec["group"]))
            rec["job_ids"] = jobs
            rec["stages"] = self._stages_run(jobs)

    def aside(self, fn):
        """Run a benchmark-side call (row counts, reading inputs back) under
        a job group of its own, outside every span."""
        self.sc.setJobGroup(f"{self.run_id}:aside", "aside")
        try:
            return fn()
        finally:
            self.sc.setJobGroup(f"{self.run_id}:untraced", "untraced")

    def count(self, df) -> int:
        return self.aside(df.count)

    def layer(self, name: str, fn, rows=None):
        """``fn()`` in a span named ``name``; its output's row count
        (``rows(out)``, default ``out.count()``) is taken aside.  A failure
        is recorded on the span by class and the call returns None."""
        with self.span(name) as rec:
            try:
                out = fn()
            except Exception as exc:  # noqa: BLE001 - reported per layer, run goes on
                rec["error"] = error_class(exc)
                return None
        if out is not None:
            rec["rows_out"] = self.aside(lambda: rows(out) if rows else out.count())
        return out

    def _stages_run(self, jobs) -> int:
        st = self.sc.statusTracker()
        ran = set()
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    ran.add(s)
        return len(ran)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, sort_keys=True) + "\n")


def read_event_log(log_dir: str, app_id: str) -> dict:
    """Job intervals and per-job task totals from a finished event log."""
    paths = [p for p in glob.glob(os.path.join(log_dir, app_id + "*"))
             if not p.endswith(".inprogress")]
    if not paths:
        raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                             "start": ev["Submission Time"] / 1000.0,
                             "end": None, "cpu_ns": 0, "shuffle_bytes": 0,
                             "spill_bytes": 0}
                for s in ev.get("Stage IDs", []):
                    stage_job.setdefault(s, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if jid is None or not tm:
                    continue
                rec = jobs[jid]
                rec["cpu_ns"] += tm.get("Executor CPU Time", 0)
                rec["shuffle_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                rec["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    return jobs


def covered_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(spans: list[dict], jobs: dict) -> dict[str, float]:
    """Counters for every layer from its spans and the event log."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["name"] == layer]
        out[f"{layer}.wall_s"] = sum(s["end"] - s["start"] for s in mine)
        out[f"{layer}.jobs"] = sum(len(s["job_ids"]) for s in mine)
        out[f"{layer}.stages"] = sum(s["stages"] for s in mine)
        out[f"{layer}.rows_out"] = sum(s["rows_out"] for s in mine)
        if layer in HEAVY:
            ids = [j for s in mine for j in s["job_ids"] if j in jobs]
            out[f"{layer}.cpu_s"] = sum(jobs[j]["cpu_ns"] for j in ids) / 1e9
            out[f"{layer}.shuffle_bytes"] = sum(jobs[j]["shuffle_bytes"] for j in ids)
            gap = 0.0
            for s in mine:
                iv = [(jobs[j]["start"], jobs[j]["end"] or s["end"])
                      for j in s["job_ids"] if j in jobs]
                gap += (s["end"] - s["start"]) - covered_seconds(iv, s["start"], s["end"])
            out[f"{layer}.driver_gap_s"] = gap
    return out


def unattributed_jobs(spans: list[dict], jobs: dict, run_id: str) -> list[tuple]:
    """Jobs the event log saw inside the traced window that no span owns
    (benchmark-side jobs excluded): a layer running work on another thread,
    or a call outside every span, shows here."""
    lo = min(s["start"] for s in spans)
    hi = max(s["end"] for s in spans)
    owned = {j for s in spans for j in s["job_ids"]}
    return [(j, rec["group"]) for j, rec in sorted(jobs.items())
            if lo <= rec["start"] <= hi and j not in owned
            and rec["group"] != f"{run_id}:aside"]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total
