"""Tracing for ``--trace 1`` runs: spans, their tree and self times,
and Spark's event log reduced with the stdlib.

A span is (name, layer, start, end, parent, run id). Spans come only
from boundaries of public calls: the workload entry call, class-level
wrappers of ``MergeSink.process_batch`` and its commit protocol's
``publish`` (which also times the two callables ``publish`` receives),
one span per query, the micro-batch phases of each
``StreamingQueryProgress``, and one span per Spark job from the event
log. Spans are kept in memory; the run writes them once at the end.

The tree is built by interval containment: a span's parent is the
innermost span of a lower rank that contains it. Self time = duration
minus the (clipped) durations of the children.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

# rank of a span kind: a span's parent must have a lower rank
RANK = {
    "entry": 0,
    "query": 1,
    "trigger": 1,
    "phase": 2,
    "process_batch": 3,
    "publish": 4,
    "callable": 5,
    "job": 6,
}
SLACK_S = 0.005  # progress timestamps have ms resolution


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, layer: str, kind: str, start: float, end: float, **attrs) -> dict:
        span = {"name": name, "layer": layer, "kind": kind, "start": start, "end": end,
                "run_id": self.run_id, **attrs}
        with self._lock:
            self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str, layer: str, kind: str, **attrs):
        t0 = time.time()
        try:
            yield
        finally:
            self.add(name, layer, kind, t0, time.time(), **attrs)


def align_phases(spans: list[dict]) -> None:
    """Stretch each ``addBatch`` phase over the ``process_batch`` span of
    the same batch inside the same trigger. Phase positions are laid out
    from progress durations alone, so they can miss the real sink call
    by the un-timed gaps between phases."""
    triggers = [s for s in spans if s["kind"] == "trigger"]
    phases = {(s["batch"], s["start"]): s for s in spans if s["kind"] == "phase" and s["name"] == "addBatch"}
    for pb in (s for s in spans if s["kind"] == "process_batch"):
        for t in triggers:
            if t["batch"] != pb["batch"] or not (t["start"] - SLACK_S <= pb["start"] and pb["end"] <= t["end"] + SLACK_S):
                continue
            phase = next((ph for (b, _), ph in phases.items()
                          if b == pb["batch"] and t["start"] <= ph["start"] <= t["end"]), None)
            if phase is not None:
                phase["start"] = min(phase["start"], pb["start"])
                phase["end"] = max(phase["end"], pb["end"])


def build_tree(spans: list[dict]) -> list[dict]:
    """Assign ``id``/``parent`` by containment and ``self_s``."""
    align_phases(spans)
    spans = sorted(spans, key=lambda s: (s["start"], -(s["end"] - s["start"]), RANK[s["kind"]]))
    for i, s in enumerate(spans):
        s["id"] = i
        s["parent"] = None
    for s in spans:
        best = None
        for p in spans:
            if p is s or RANK[p["kind"]] >= RANK[s["kind"]]:
                continue
            if p["start"] - SLACK_S <= s["start"] and s["end"] <= p["end"] + SLACK_S:
                if best is None or RANK[p["kind"]] > RANK[best["kind"]] or (
                    RANK[p["kind"]] == RANK[best["kind"]]
                    and p["end"] - p["start"] < best["end"] - best["start"]
                ):
                    best = p
        s["parent"] = None if best is None else best["id"]
    child_s: dict[int, float] = defaultdict(float)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            lo, hi = max(s["start"], p["start"]), min(s["end"], p["end"])
            child_s[p["id"]] += max(0.0, hi - lo)
    for s in spans:
        s["self_s"] = max(0.0, (s["end"] - s["start"]) - child_s[s["id"]])
    return spans


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per layer, over spans below the roots (a root's own
    self time is time no named span accounts for)."""
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            out[s["layer"]] += s["self_s"]
    return dict(out)


def attribution(spans: list[dict]) -> tuple[float, float]:
    """(wall of the root spans -- entry calls, or queries when there is
    no entry call -- and the share of it covered by named spans)."""
    roots = [s for s in spans if s["parent"] is None and s["kind"] in ("entry", "query")]
    wall = sum(s["end"] - s["start"] for s in roots)
    unattributed = sum(s["self_s"] for s in roots)
    return wall, (1.0 - unattributed / wall) if wall > 0 else 0.0


# -- StreamingQueryProgress → spans ------------------------------------

PHASE_LAYER = {
    "latestOffset": "sources",
    "walCommit": "streaming",
    "getBatch": "sources",
    "queryPlanning": "streaming",
    "addBatch": "streaming",
    "commitOffsets": "streaming",
}


def progress_spans(tracer: Tracer, progress: list[dict], ts_of) -> None:
    """One trigger span per progress, its phases laid out in the order
    the micro-batch loop runs them."""
    for p in progress:
        d = p.get("durationMs", {})
        t0 = ts_of(p["timestamp"])
        trig = tracer.add(f"batch {p['batchId']}", "streaming", "trigger", t0,
                          t0 + d.get("triggerExecution", 0) / 1000.0, batch=p["batchId"])
        t = t0
        for ph in PHASE_LAYER:
            if d.get(ph):
                end = min(trig["end"], t + d[ph] / 1000.0)
                tracer.add(ph, PHASE_LAYER[ph], "phase", t, end, batch=p["batchId"])
                t = end


# -- event log -------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the newest application log in ``log_dir``."""
    logs = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not logs:
        return []
    with open(logs[-1]) as f:
        return [json.loads(line) for line in f if line.strip()]


def reduce_event_log(events: list[dict], t_from: float, t_to: float) -> tuple[list[dict], dict]:
    """Job spans and executor counters for jobs submitted in
    [t_from, t_to] (epoch s)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            if t_from <= t <= t_to:
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[e["Job ID"]] = {"start": t, "end": t, "group": group}
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
    c = defaultdict(float)
    task_ms: dict[int, list[float]] = defaultdict(list)
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd" or e.get("Stage ID") not in stage_job:
            continue
        m = e.get("Task Metrics") or {}
        c["exec.tasks"] += 1
        c["exec.run_s"] += m.get("Executor Run Time", 0) / 1000.0
        c["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        c["exec.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        c["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        c["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        c["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        task_ms[e["Stage ID"]].append(m.get("Executor Run Time", 0))
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            key = PYTHON_METRICS.get(acc.get("Name"))
            if key:
                scale = 1e9 if key.endswith("_s") else 1.0
                c[key] += float(acc.get("Update", 0) or 0) / scale
    skews = [
        max(ms) / statistics.median(ms)
        for ms in task_ms.values()
        if len(ms) >= 2 and statistics.median(ms) > 0
    ]
    c["exec.stage_skew_max"] = max(skews, default=1.0)
    c["exec.jobs"] = len(jobs)
    spans = [{"job": j, **v} for j, v in jobs.items()]
    return spans, dict(c)


# SQL metrics of the Arrow/pandas Python plan nodes (nanosecond timers)
PYTHON_METRICS = {
    "time to initialize Python workers": "functions.python_init_s",
    "time to start Python workers": "functions.python_init_s",
    "time to run Python workers": "functions.python_run_s",
    "data sent to Python workers": "functions.python_bytes_to",
    "data returned from Python workers": "functions.python_bytes_from",
}


def write_trace(path: str, spans: list[dict], report: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"report": report, "spans": spans}, f)
