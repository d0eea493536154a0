"""Benchmark-side tracing: spans around calls into each layer, plus the
Spark event-log counters of the jobs those calls ran.

Spans are recorded in memory and only written out when the run ends.
Each span sets ``spark.job.description`` on its thread while open, so
every Spark job a call launches is attributed to the innermost span that
was active when the job was submitted.  Spark is lazy: a check that only
builds a plan (``checks.domain``) runs no job under its own span; its work
executes later under the span of the action that forces the plan.

Streaming jobs run on the query's own thread; they are attributed to the
``streaming.<q>`` span whose query id appears in the job's properties,
unless a span opened inside the ``foreachBatch`` callback claimed them.
The static-side jobs a ``stream_*`` call runs before its query exists
fall under that call's ``streaming.<q>.call`` span.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from .measure import median

SPAN_TAG = "perfbench-span:"

# names pipeline.runner imports from checks and drift -> span name
RUNNER_IMPORTS = {
    "audio_invariant_violations": "checks.audio",
    "domain_violations": "checks.domain",
    "profile": "checks.stats.profile",
    "distribution_drift": "drift.distribution_drift",
}

# spans whose Spark counters are reported as per-layer metrics
COUNTED_SPANS = (
    "pipeline.run_validation",
    "checks.audio",
    "checks.stats.profile",
    "drift.distribution_drift",
    "streaming.validate",
    "streaming.drift",
)
COUNTERS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "task_skew",
)


class Tracer:
    """In-memory span recorder.  ``sc=None`` records spans without
    touching Spark job descriptions (used by the unit tests)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.query_spans: dict[str, int] = {}  # streaming query id -> span id
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _describe(self, rec: dict | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(f"{SPAN_TAG}{rec['id']} {rec['name']}" if rec else None)

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": stack[-1]["id"] if stack else None,
                "start": time.time(),
                "end": None,
            }
            self.spans.append(rec)
        stack.append(rec)
        self._describe(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self._describe(stack[-1] if stack else None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def record(self, name: str, start: float, end: float, query_id=None) -> None:
        """Add a finished top-level span; jobs of streaming query
        ``query_id`` are attributed to it."""
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "parent": None, "start": start, "end": end}
            self.spans.append(rec)
        if query_id is not None:
            self.query_spans[str(query_id)] = rec["id"]

    @contextmanager
    def installed(self):
        """Wrap the checks/drift entry points pipeline.runner imports, for
        the duration of the block."""
        from llm_drift_detector_spark.pipeline import runner

        saved = {attr: getattr(runner, attr) for attr in RUNNER_IMPORTS}
        for attr, name in RUNNER_IMPORTS.items():
            setattr(runner, attr, self.wrap(name, saved[attr]))
        try:
            yield self
        finally:
            for attr, fn in saved.items():
                setattr(runner, attr, fn)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval covered by its
    children (overlapping children are counted once)."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# --- Spark event log ----------------------------------------------------------


def _read_events(event_dir: str):
    for name in sorted(os.listdir(event_dir)):
        if name.startswith(".") or name.endswith(".crc") or name.startswith("appstatus"):
            continue
        path = os.path.join(event_dir, name)
        files = [os.path.join(path, n) for n in sorted(os.listdir(path))] if os.path.isdir(path) else [path]
        for fp in files:
            if os.path.basename(fp).startswith((".", "appstatus")):
                continue
            with open(fp) as f:
                for line in f:
                    yield json.loads(line)


def _python_node_accumulators(plan: dict, out: dict[str, set]) -> None:
    name = plan.get("nodeName", "")
    if "Python" in name or "Arrow" in name or "Pandas" in name:
        for m in plan.get("metrics", ()):
            if m["name"] == "data sent to Python workers":
                out["sent"].add(m["accumulatorId"])
            elif m["name"] == "number of output rows":
                out["rows"].add(m["accumulatorId"])
    for c in plan.get("children", ()):
        _python_node_accumulators(c, out)


def parse_event_log(event_dir: str) -> dict:
    """Jobs (with their attribution properties) and per-stage task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    py_acc: dict[str, set] = {"sent": set(), "rows": set()}
    raw_tasks = []
    for e in _read_events(event_dir):
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "id": e["Job ID"],
                "submit_ms": e["Submission Time"],
                "desc": props.get("spark.job.description") or "",
                "group": props.get("spark.jobGroup.id") or "",
                "query": props.get("sql.streaming.queryId") or "",
            }
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, e["Job ID"])
        elif ev == "SparkListenerTaskEnd":
            raw_tasks.append(e)
        elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
            _python_node_accumulators(e.get("sparkPlanInfo") or {}, py_acc)
    for e in raw_tasks:
        tm = e.get("Task Metrics") or {}
        ti = e.get("Task Info") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        sent = rows = 0
        for a in ti.get("Accumulables") or ():
            if a.get("ID") in py_acc["sent"]:
                sent += int(a.get("Update") or 0)
            elif a.get("ID") in py_acc["rows"]:
                rows += int(a.get("Update") or 0)
        tasks[e["Stage ID"]].append(
            {
                "dur_ms": ti.get("Finish Time", 0) - ti.get("Launch Time", 0),
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                "input": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                "udf_sent": sent,
                "udf_rows": rows,
            }
        )
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks}


def attribute_jobs(log: dict, tracer: Tracer) -> dict[int, int]:
    """job id -> span id (jobs outside every span are left out)."""
    out = {}
    for jid, j in log["jobs"].items():
        if j["desc"].startswith(SPAN_TAG):
            out[jid] = int(j["desc"][len(SPAN_TAG):].split()[0])
            continue
        for qid, sid in tracer.query_spans.items():
            if qid in (j["query"], j["group"]) or qid in j["desc"]:
                out[jid] = sid
                break
    return out


def span_counters(log: dict, job_span: dict[int, int], span_ids: set[int]) -> dict:
    """Summed task counters of the jobs attributed to ``span_ids``."""
    stages = [
        sid for sid, jid in log["stage_job"].items() if job_span.get(jid) in span_ids
    ]
    tasks = [t for sid in stages for t in log["tasks"].get(sid, ())]
    skew = 0.0
    heaviest = max(
        (log["tasks"].get(sid, []) for sid in stages),
        key=lambda ts: sum(t["run_ms"] for t in ts),
        default=[],
    )
    durs = [t["dur_ms"] for t in heaviest]
    if len(durs) >= 2 and median(durs) > 0:
        skew = max(durs) / median(durs)
    return {
        "jobs": sum(1 for sid in job_span.values() if sid in span_ids),
        "tasks": len(tasks),
        "executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "input_bytes": sum(t["input"] for t in tasks),
        "udf_bytes_sent": sum(t["udf_sent"] for t in tasks),
        "udf_rows_returned": sum(t["udf_rows"] for t in tasks),
        "task_skew": skew,
    }


def subtree(spans: list[dict], root_ids: set[int]) -> set[int]:
    out = set(root_ids)
    changed = True
    while changed:
        changed = False
        for s in spans:
            if s["parent"] in out and s["id"] not in out:
                out.add(s["id"])
                changed = True
    return out


def span_report(tracer: Tracer, log: dict) -> dict:
    """Per span name: calls, total and self seconds, and the Spark
    counters of the jobs attributed to its spans alone (``spark``) and to
    its spans and their descendants (``spark_incl``)."""
    spans = [s for s in tracer.spans if s["end"] is not None]
    selfs = self_times(spans)
    job_span = attribute_jobs(log, tracer)
    by_name: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    out = {}
    for name, ss in sorted(by_name.items()):
        ids = {s["id"] for s in ss}
        out[name] = {
            "calls": len(ss),
            "total_s": sum(s["end"] - s["start"] for s in ss),
            "self_s": sum(selfs[s["id"]] for s in ss),
            "spark": span_counters(log, job_span, ids),
            "spark_incl": span_counters(log, job_span, subtree(spans, ids)),
        }
    out["_unattributed_jobs"] = len(log["jobs"]) - len(job_span)
    return out
